package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Row

import graft.chain.MetadataChain
import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.maintenance.Maintenance
import graft.model.MergeConf
import graft.model.MetadataEvent.SetPollingSource
import graft.operators.MergeStrategy
import graft.sync.SyncService

/**
 * One writer makes consecutive small snapshot-merge commits onto one
 * dataset whose chain keeps growing; the many-slice result is then
 * verified, pushed to a fresh destination and compacted.
 *
 * Each commit feeds the full snapshot (about [[CommitSmall.Keys]] orders
 * rows). The seed picks which 2% of keys change per commit and which few
 * keys are retracted and replaced by new ones.
 */
final class CommitSmall(ctx: Ctx) extends Workload {
  import CommitSmall._
  import ctx.{seed, spark}

  private val pk = Seq("o_orderkey")
  private val merge = MergeStrategy.Snapshot(pk)
  private var root: Path = _
  private var ds: Dataset = _
  private var keys = mutable.ArrayBuffer.empty[Long]
  private val version = mutable.HashMap.empty[Long, Long]
  private var nextKey = 0L
  private var commits = 0
  private var snapshotBytes = 0L
  private var pushed: Option[(Option[(Long, String)], Option[(Long, String)])] = None
  private var verifyIssues: Seq[String] = Nil
  private var fixtureNo = 0

  private def rows: Seq[Row] = keys.toSeq.map(k => Data.order(seed, k, version(k)))

  def buildFixture(n: Int): Unit = {
    fixtureNo = n
    root = ctx.dir("commit_small", s"fixture$n").resolve("orders")
    ds = Dataset.create(spark, root, "orders")
    ds.chain.append(SetPollingSource("parquet", merge = MergeConf("snapshot", pk)), 0L)
    keys = mutable.ArrayBuffer.range(1L, Keys + 1L)
    version.clear()
    keys.foreach(version(_) = 0L)
    nextKey = Keys + 1L
    commits = 0
    commit()
    if (snapshotBytes == 0L) snapshotBytes = parquetBytes()
  }

  /** Parquet size of one fed snapshot, the unit of input for storage_amp. */
  private def parquetBytes(): Long = {
    val out = ctx.dir("commit_small", "snapshot_size").resolve("s").toString
    Data.frame(spark, rows, Data.OrdersSchema).coalesce(1).write.mode("overwrite").parquet(out)
    Util.treeBytes(java.nio.file.Paths.get(out))
  }

  private def commit(): Option[_] = {
    commits += 1
    IngestWriter.writeBatch(ds, Data.frame(spark, rows, Data.OrdersSchema), merge,
      systemTime = 1600000000000L + commits * 60000L)
  }

  /** Next snapshot: 2% of keys get a new version; a few keys are retracted
    * and the same number of new keys appear. */
  private def mutate(): Unit = {
    val v = commits.toLong + 1
    val changed = mutable.LinkedHashSet.empty[Long]
    var i = 0L
    while (changed.size < Changed) {
      changed += keys(Data.pick(Data.mix(seed, v, i), keys.size).toInt); i += 1
    }
    changed.foreach(version(_) = v)
    val gone = mutable.LinkedHashSet.empty[Long]
    while (gone.size < Churn) {
      gone += keys(Data.pick(Data.mix(seed, v, i), keys.size).toInt); i += 1
    }
    keys = keys.filterNot(gone.contains)
    gone.foreach(version.remove)
    (0 until Churn).foreach { _ => keys += nextKey; version(nextKey) = v; nextKey += 1 }
  }

  private def headHash: Option[String] = ds.chain.head.map(_._2)

  /** The lifecycle on a throwaway ledger: [[CommitSmall.WarmCommits]]
    * commits, its first included (the JIT takes about ten to settle), then
    * push and compact.
    * Verify is left out: it runs as fast cold as warm (3.3 s against 3.2 s
    * on a 4-core host), so warming it would only lengthen set-up. */
  override def warmUp(): Unit = {
    buildFixture(0)
    val rec = new Recorder(spark, traced = false)
    commits(rec, WarmCommits - 1)
    maintain(rec, verify = false)
    pushed = None
  }

  def iterations(seconds: Double): Int = math.max(MinCommits, math.round(seconds / CommitS).toInt)

  def run(rec: Recorder, iterations: Int): Unit = {
    commits(rec, iterations)
    Util.chainWalkProbe(rec, ds)
    maintain(rec, verify = true)
  }

  private def commits(rec: Recorder, n: Int): Unit =
    (1 to n).foreach { _ =>
      mutate()
      val blocks = Util.blocks(ds)
      val cacheHit =
        if (rec.traced) headHash.exists(h =>
          ds.chain.fs.exists(new HPath(new HPath(ds.chain.root, "stateCache"), s"state-$h")))
        else false
      rec.op("commit", Map("chain_blocks" -> blocks, "state_cache_hit" -> cacheHit))(commit())
    }

  /** Verify (optionally), push to a fresh destination, compact. */
  private def maintain(rec: Recorder, verify: Boolean): Unit = {
    val slices = ds.chain.slices().size
    if (verify)
      rec.op("verify", Map("slices" -> slices))(Maintenance.verify(ds)).foreach { issues =>
        verifyIssues ++= issues.map(_.toString)
      }
    val dst = ctx.dir("commit_small", s"push$fixtureNo").resolve("orders")
    val conf = spark.sparkContext.hadoopConfiguration
    val srcHead = ds.chain.head
    rec.op("push", Map("slices" -> slices)) {
      SyncService.sync(new HPath(root.toUri), new HPath(dst.toUri), conf,
        parallelism = math.min(4, ctx.cpus))
    }.foreach {
      case SyncService.Updated(_, _, blocksCopied, filesCopied) =>
        rec.annotate("objects_copied" -> (blocksCopied + filesCopied),
          "bytes_copied" -> Util.treeBytes(dst))
      case _ => ()
    }
    pushed = Some(srcHead -> MetadataChain.open(new HPath(dst.toUri), conf).head)
    rec.op("compact", Map("slices" -> slices))(Maintenance.compact(ds)).foreach { c =>
      ds = c
      rec.annotate("bytes_rewritten" ->
        ds.chain.slices().map(s => ds.chain.fs.getFileStatus(ds.chain.dataFile(s.physicalHash)).getLen).sum)
    }
  }

  def check(rec: Recorder): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    failures ++= verifyIssues.map(i => s"verify: $i")
    pushed match {
      case Some((src, dst)) if src == dst && src.isDefined => ()
      case other => failures += s"push: destination head differs from source ($other)"
    }
    val want = rows.map(r => r.toSeq.map(String.valueOf).mkString("|")).toSet
    val cols = Data.OrdersSchema.fieldNames.toSeq
    val got = ds.projectState().select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(r => r.toSeq.map(String.valueOf).mkString("|")).toSet
    if (got != want)
      failures += s"state: projected state differs from last snapshot " +
        s"(${(got -- want).size} unexpected, ${(want -- got).size} missing rows)"
    failures.toSeq
  }

  override def summary(rec: Recorder): Map[String, Any] = Map(
    "input_bytes" -> snapshotBytes * commits,
    "stored_bytes" ->
      (Util.treeBytes(root) + Util.treeBytes(ctx.work.resolve("commit_small").resolve(s"push$fixtureNo"))))
}

object CommitSmall {
  val Keys = 4000L
  val Changed = 80 // 2% of keys per commit
  val Churn = 8
  val WarmCommits = 10
  val MinCommits = 5
  /** Calibration: seconds per commit on a 4-core host. */
  val CommitS = 1.5
}

object Util {
  /** Bytes of every regular file under `p`. */
  def treeBytes(p: Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  def blocks(ds: Dataset): Long = ds.chain.head.map(_._1 + 1).getOrElse(0L)

  /** Traced runs only: time a full chain walk from a fresh open, the read
    * every chain accessor repeats, at the chain's current length. */
  def chainWalkProbe(rec: Recorder, ds: Dataset): Unit =
    if (rec.traced) (1 to 3).foreach { _ =>
      rec.op("chain_walk", Map("chain_blocks" -> blocks(ds))) {
        MetadataChain.open(ds.chain.root, ds.chain.fs.getConf).blocksWithHashes().size
      }
    }

  /** The parquet part files of a directory written by Spark. */
  def parquetFiles(dir: Path): Seq[Path] = {
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  /** A collected value as JSON-friendly plain data. */
  def plain(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.toPlainString
    case d: java.sql.Date        => d.toString
    case t: java.sql.Timestamp   => t.toInstant.toString
    case other                   => other
  }
}
