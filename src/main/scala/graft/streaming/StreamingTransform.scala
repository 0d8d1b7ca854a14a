package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.chain.MetadataChain
import graft.dataset.Dataset
import graft.model.MetadataEvent.{CheckpointRef, ExecuteTransform, TransformInputState}
import graft.transform.TransformService

/**
 * Continuous derivative transforms: a dataset consumed as a stream, a
 * transform applied per micro-batch, and each batch committed as an
 * `ExecuteTransform` block that records (a) the input offset interval it
 * consumed, (b) the output slice, and (c) the content-hashed checkpoint
 * artifact — the reference's `Checkpoint` in ExecuteTransform
 * (dtos_generated.rs:967,1199).
 *
 * Exactly-once across kill-and-resume: Spark's streaming checkpoint (under
 * the OUTPUT dataset's own `checkpoints/` dir, so the engine state ships
 * with the dataset) replays unprocessed input files only, and the chain-side
 * interval guard skips a micro-batch whose input offsets were already
 * committed — so a foreachBatch retry after a crash can never double-append.
 */
object StreamingTransform {

  /** Content hash of a checkpoint directory: SHA-256 over the sorted
    * (relative path, file SHA-256) pairs. Stable under listing order;
    * sensitive to any byte of engine state. Returns None when the dir does
    * not exist yet (first batch of a fresh query). */
  def hashCheckpointDir(fs: FileSystem, dir: Path): Option[CheckpointRef] = {
    if (!fs.exists(dir)) return None
    def walk(p: Path): Seq[Path] = {
      val st = fs.listStatus(p).sortBy(_.getPath.getName)
      st.flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s.getPath))
    }
    val files = walk(dir)
    val rootUri = dir.toUri.getPath
    val entries = files.map { f =>
      val rel = f.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      (rel, MetadataChain.sha256HexOf(fs, f))
    }.sortBy(_._1)
    val digest = MetadataChain.sha256Hex(
      entries.map { case (r, h) => s"$r:$h" }.mkString("\n").getBytes("UTF-8"))
    val size = files.map(f => fs.getFileStatus(f).getLen).sum
    Some(CheckpointRef(dir.getName, digest, size))
  }

  /**
   * Commit one transformed micro-batch as an ExecuteTransform block.
   * `inputBatch` must still carry the input's offset column; its min/max
   * define the consumed interval. Returns None when the interval was already
   * committed (a replayed batch after crash-restart).
   */
  def commitBatch(
      output: Dataset,
      inputName: String,
      inputBatch: DataFrame,
      transformed: DataFrame,
      systemTime: Long,
      checkpointDir: Option[Path] = None
  ): Option[ExecuteTransform] = {
    val vocab = output.vocabulary
    val offCol = vocab.offsetColumn
    val bounds = inputBatch.agg(min(col(offCol)).as("lo"), max(col(offCol)).as("hi")).head()
    if (bounds.isNullAt(1)) return None // empty batch
    val hi = bounds.getLong(1)

    val prevHi = output.chain
      .lastExecuteTransform()
      .flatMap(_.inputs.find(_.datasetName == inputName))
      .flatMap(_.newOffset)
    if (prevHi.exists(_ >= hi)) return None // replayed batch -> skip

    val newData = TransformService.commitOutput(output, transformed, systemTime)
    val ckpt = checkpointDir.flatMap(d => hashCheckpointDir(output.chain.fs, d))
    val event = ExecuteTransform(
      Seq(TransformInputState(inputName, prevHi, Some(hi))),
      newData,
      ckpt
    )
    output.chain.append(event, systemTime)
    Some(event)
  }

  /**
   * One incremental run of a STATEFUL streaming transform — windowed
   * aggregations (or any watermark-governed stateful query) whose Spark
   * state store persists ACROSS runs in the dataset's checkpoint artifact.
   * This is the pull-based analog of the reference's checkpointed Flink
   * engine (`prev_checkpoint_path`/`new_checkpoint_path` handover,
   * engine_io_strategy.rs:93-176): each run resumes the state recorded by
   * the previous ExecuteTransform, absorbs exactly the input slices the
   * file-source log has not seen, emits only the rows the watermark has
   * FINALIZED (append mode — rows are emitted once, ever), and commits one
   * ExecuteTransform carrying the new data slice (None when no window
   * closed) plus the content-hashed checkpoint.
   *
   * Crash discipline: emitted batches are staged to a scratch dir keyed by
   * batchId BEFORE the streaming checkpoint advances past them, and the
   * scratch dir is cleared only after the chain commit — a crash between
   * checkpoint advance and chain commit leaves the staged output for the
   * next run to commit (emissions are never lost, never doubled: the stage
   * write is an idempotent overwrite by batchId, and a crash AFTER the
   * chain commit but before cleanup is recognized via the `_commit_intent`
   * marker, so already-committed parked batches are cleared, never
   * re-emitted).
   *
   * `transform` maps the watermarked streaming input to a streaming result
   * (e.g. `tumblingWindowAgg` flattened to plain columns). Determinism: with
   * Trigger.AvailableNow each run's batch split depends only on the new
   * files, and window finalization depends only on data — replaying the
   * same slice sequence from a fresh checkpoint reproduces the output
   * bit-for-bit.
   */
  def runStateful(
      output: Dataset,
      input: Dataset,
      transform: DataFrame => DataFrame,
      queryName: String = "stateful",
      clock: () => Long = () => System.currentTimeMillis()
  ): Option[ExecuteTransform] = {
    val spark = output.spark
    val fs = output.chain.fs
    val checkpoint = new Path(output.chain.checkpointsDir, s"transform-$queryName")
    val stage = new Path(output.chain.root, s"scratch/stream-stage-$queryName")
    val inputName = input.name

    val prevHi = output.chain
      .lastExecuteTransform()
      .flatMap(_.inputs.find(_.datasetName == inputName))
      .flatMap(_.newOffset)
    val hiNow = input.chain.lastOffset()

    // Crash-resume disambiguation: a `_commit_intent` marker is written just
    // before the chain append (recording the block seq the commit will land
    // at and the input interval). If the marker's block EXISTS in the chain,
    // the previous run crashed between append and stage cleanup — the
    // parked batches are already committed and re-reading them would DOUBLE
    // the emission; clear the stage. If it does not, the crash was before
    // the append and the parked batches still need committing.
    val markerPath = new Path(stage, "_commit_intent")
    if (fs.exists(markerPath)) {
      val in = fs.open(markerPath)
      val txt = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val Array(seqS, prevS, hiS) = txt.trim.split(",", -1)
      def opt(s: String): Option[Long] = if (s.isEmpty) None else Some(s.toLong)
      val committed = output.chain.blocksWithHashes().exists { case (b, _) =>
        b.sequenceNumber == seqS.toLong && (b.event match {
          case e: ExecuteTransform =>
            e.inputs == Seq(TransformInputState(inputName, opt(prevS), opt(hiS)))
          case _ => false
        })
      }
      if (committed) fs.delete(stage, true)
    }

    val staleStage = fs.exists(stage) &&
      fs.listStatus(stage).exists(_.getPath.getName.startsWith("batch-"))
    if (prevHi == hiNow && !staleStage) return None // nothing new, nothing parked

    val stream = StreamingOps.datasetStream(input)
    val q = transform(stream).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent by batchId: a retried batch overwrites its own stage dir
        batch.write.mode("overwrite").parquet(new Path(stage, s"batch-$batchId").toString)
        ()
      }
      .queryName(s"graft-stateful-$queryName")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val systemTime = clock()
    val staged =
      if (!fs.exists(stage)) Nil
      else fs.listStatus(stage).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("batch-")).sortBy(_.getName)
    val emitted: Option[DataFrame] = staged match {
      case Nil   => None
      case paths =>
        val df = spark.read.parquet(paths.map(_.toString): _*)
        if (df.isEmpty) None else Some(df)
    }

    val newData = emitted.flatMap(TransformService.commitOutput(output, _, systemTime))

    val ckpt = hashCheckpointDir(fs, checkpoint)
    val event = ExecuteTransform(
      Seq(TransformInputState(inputName, prevHi, hiNow)),
      newData,
      ckpt
    )
    // marker first (see resume logic above): records where this commit will
    // land so a crash between append and cleanup is recognizable
    val nextSeq = output.chain.head.map(_._1 + 1).getOrElse(0L)
    output.chain.writeObjectAtomic(
      markerPath,
      s"$nextSeq,${prevHi.getOrElse("")},${hiNow.getOrElse("")}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    output.chain.append(event, systemTime)
    fs.delete(stage, true) // commit point passed: staged output is in the chain
    Some(event)
  }

  /**
   * Start the continuous derivative query: input dataset as a file stream
   * over its committed slices → `transform` per micro-batch → chain commit.
   * The streaming checkpoint lives under the output dataset's
   * `checkpoints/transform-<queryName>` — restartable exactly-once with the
   * same queryName.
   */
  def start(
      output: Dataset,
      input: Dataset,
      transform: DataFrame => DataFrame,
      queryName: String = "graft-transform",
      clock: () => Long = () => System.currentTimeMillis()
  ): StreamingQuery = {
    val checkpoint = new Path(output.chain.checkpointsDir, s"transform-$queryName")
    val stream = StreamingOps.datasetStream(input)
    val inputName = input.name
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        commitBatch(output, inputName, batch, transform(batch), clock(), Some(checkpoint))
        ()
      }
      .queryName(queryName)
      .start()
  }
}
