package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

import graft.chain.MetadataChain
import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.maintenance.Maintenance
import graft.model.MetadataEvent.{SetPollingSource, SqlStep}
import graft.sync.SyncService
import graft.transform.TransformService

/**
 * Bulk lifecycle on few large slices: TPC-H-shaped `lineitem` rows arrive
 * as [[PipelineBulk.Batches]] ~100k-row append commits, then a derivative
 * aggregate transform, verify, push to a fresh destination and compaction.
 * Then the iterative operators: the operator calls of entries
 * [[PipelineBulk.GraphEntries]] over a 15,000-customer table (the sf0.1
 * size), each many short rounds with a lineage cut and a convergence count.
 * The seed picks the row values, where the batches split, and the customer
 * rows.
 */
final class PipelineBulk(ctx: Ctx) extends Workload {
  import PipelineBulk._
  import ctx.{seed, spark}

  private var batches: Seq[(Path, Long)] = Nil // (parquet dir, rows)
  private var root: Path = _
  private var ds: Dataset = _
  private var summaryDs: Dataset = _
  private var fixtureNo = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private var transformRows: Seq[Seq[Any]] = Nil
  private var customers: Path = _
  /** Each graph entry's columns and rows, from its first measured call. */
  private val graphOut = mutable.LinkedHashMap.empty[String, (Seq[String], Seq[Seq[Any]])]

  /** Batch sizes: `parts` near-equal parts of `total`, each ± 20%, seeded. */
  private def splits(total: Long, parts: Int, key: Long): Seq[Long] = {
    val j = total / parts / 5
    val sizes = (0 until parts - 1).map(i => total / parts + Data.pick(Data.mix(key, i), 2 * j + 1) - j)
    sizes :+ (total - sizes.sum)
  }

  /** Seeded input files, one parquet directory per batch. */
  private def writeInput(dir: Path, total: Long, parts: Int): Seq[(Path, Long)] = {
    val sizes = splits(total, parts, seed)
    sizes.scanLeft(0L)(_ + _).zip(sizes).zipWithIndex.map { case ((lo, n), i) =>
      val out = dir.resolve(s"batch$i")
      Data.lineitem(spark, seed, lo, lo + n)
        .write.mode("overwrite").parquet(out.toString)
      out -> n
    }
  }

  /** `customer.parquet` with keys 0 until `n` under `dir`, which the graph
    * entries read. */
  private def writeCustomers(dir: Path, n: Long): Path = {
    val rows = (0L until n).map(Data.customer(seed, _))
    Data.frame(spark, rows, StructType.fromDDL(Data.CustomerDdl)).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("customer.parquet").toString)
    dir
  }

  override def prepare(): Unit = {
    batches = writeInput(ctx.dir("pipeline_bulk", "input"), Rows, Batches)
    customers = writeCustomers(ctx.dir("pipeline_bulk", "graph"), Data.Customers)
  }

  def buildFixture(n: Int): Unit = {
    fixtureNo = n
    val base = ctx.dir("pipeline_bulk", s"fixture$n")
    root = base.resolve("lineitem")
    ds = Dataset.create(spark, root, "lineitem")
    ds.chain.append(SetPollingSource("parquet", schemaDdl = Some(LineitemDdl)), 0L)
    summaryDs = Dataset.create(spark, base.resolve("lineitem_summary"), "lineitem_summary",
      kind = "derivative")
    TransformService.setTransform(summaryDs, Seq("lineitem"), Seq(SqlStep(None, SummarySql)), 0L)
  }

  /** One small pass over every lifecycle call on a throwaway fixture, so
    * the timed pass runs compiled code instead of paying the JVM's first
    * calls on its first commit. */
  override def warmUp(): Unit = {
    val input = writeInput(ctx.dir("pipeline_bulk", "warm_input"), WarmRows, 2)
    val graph = writeCustomers(ctx.dir("pipeline_bulk", "warm_graph"), Data.Customers / 30)
    buildFixture(0)
    val rec = new Recorder(spark, traced = false)
    pass(rec, input)
    graphCalls(rec, graph)
    failures.clear()
    graphOut.clear()
  }

  /** One operator call per graph entry over `dir/customer.parquet`; a call
    * whose answer differs from that entry's first call is a failure. */
  private def graphCalls(rec: Recorder, dir: Path): Unit = {
    GraphEntries.foreach { e =>
      rec.op("iter_op", Map("entry" -> e)) {
        val df = SparkEntry.queries(e)(spark, dir.toString)
        (df.columns.toSeq, df.collect().toSeq.map(_.toSeq.map(Util.plain)))
      }.foreach { got =>
        rec.annotate("rows" -> got._2.size)
        if (graphOut.getOrElseUpdate(e, got) != got) failures += s"$e: answer differs from its first call"
      }
    }
    spark.catalog.clearCache()
  }

  private def pass(rec: Recorder, input: Seq[(Path, Long)]): Unit = {
    input.zipWithIndex.foreach { case ((dir, n), i) =>
      rec.op("commit", Map("rows" -> n, "chain_blocks" -> Util.blocks(ds))) {
        IngestWriter.ingestFile(ds, dir.toString, 1600000000000L + i * 60000L)
      }
    }
    rec.op("transform") {
      TransformService.executeTransform(summaryDs, _ => ds, 1700000000000L)
    }
    Util.chainWalkProbe(rec, ds)
    val slices = ds.chain.slices().size
    rec.op("verify", Map("slices" -> slices))(Maintenance.verify(ds)).foreach { issues =>
      failures ++= issues.map(i => s"verify: $i")
    }
    val dst = ctx.dir("pipeline_bulk", s"push$fixtureNo").resolve("lineitem")
    val conf = spark.sparkContext.hadoopConfiguration
    rec.op("push", Map("slices" -> slices)) {
      SyncService.sync(new HPath(root.toUri), new HPath(dst.toUri), conf,
        parallelism = math.min(4, ctx.cpus))
    }.foreach {
      case SyncService.Updated(_, _, blocksCopied, filesCopied) =>
        rec.annotate("objects_copied" -> (blocksCopied + filesCopied),
          "bytes_copied" -> Util.treeBytes(dst))
      case _ => ()
    }
    if (MetadataChain.open(new HPath(dst.toUri), conf).head != ds.chain.head)
      failures += "push: destination head differs from source"
    rec.op("compact", Map("slices" -> slices))(Maintenance.compact(ds)).foreach { c =>
      ds = c
      rec.annotate("bytes_rewritten" ->
        ds.chain.slices().map(s => ds.chain.fs.getFileStatus(ds.chain.dataFile(s.physicalHash)).getLen).sum)
    }
  }

  def iterations(seconds: Double): Int = math.max(1, math.round(seconds / PassS).toInt)

  def run(rec: Recorder, iterations: Int): Unit = {
    (1 to iterations).foreach { i =>
      if (i > 1) buildFixture(fixtureNo + 100)
      pass(rec, batches)
      graphCalls(rec, customers)
    }
    val expected = batches.map(_._2).sum
    val got = ds.chain.lastOffset().map(_ + 1).getOrElse(0L)
    if (got != expected) failures += s"ingest: $got rows committed, $expected fed"
    val cols = Seq("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
      "sum_disc_price", "count_order")
    transformRows = summaryDs.toDF().select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq.map(_.toSeq)
  }

  def check(rec: Recorder): Seq[String] = failures.toSeq

  override def oracleInputs(rec: Recorder): Map[String, Any] = Map(
    "transform" -> Map(
      "sql" -> SummarySql,
      "table" -> "lineitem",
      "files" -> batches.map(b => Util.parquetFiles(b._1)).flatten.map(_.toString),
      "columns" -> Seq("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "count_order"),
      "rows" -> transformRows.map(_.map(Util.plain))),
    "graph" -> Map(
      "tables" -> Map("customer" -> customers.resolve("customer.parquet").toString),
      "entries" -> graphOut.map { case (e, (cols, rows)) =>
        e -> Map("sql" -> SparkEntry.oracleSql(e), "columns" -> cols, "rows" -> rows)
      }))

  override def summary(rec: Recorder): Map[String, Any] = Map(
    "input_bytes" -> batches.map(b => Util.treeBytes(b._1)).sum,
    "input_rows" -> batches.map(_._2).sum,
    "stored_bytes" -> Seq(root, root.resolveSibling("lineitem_summary"),
      ctx.work.resolve("pipeline_bulk").resolve(s"push$fixtureNo")).map(Util.treeBytes).sum)
}

object PipelineBulk {
  val Rows = 120000L
  val Batches = 2
  val GraphEntries = Seq("graph_bfs", "graph_components")
  val WarmRows = 4000L
  /** Calibration: seconds per lifecycle pass on a 4-core host. */
  val PassS = 14.0
  val LineitemDdl: String =
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DECIMAL(12,2), l_extendedprice DECIMAL(12,2), l_discount DECIMAL(12,2), " +
      "l_tax DECIMAL(12,2), l_returnflag STRING, l_linestatus STRING, l_shipdate DATE, " +
      "l_shipinstruct STRING, l_shipmode STRING, l_comment STRING"
  val SummarySql: String =
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
      "sum(l_extendedprice) AS sum_base_price, " +
      "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, count(*) AS count_order " +
      "FROM lineitem WHERE l_shipdate <= DATE'1998-09-02' " +
      "GROUP BY l_returnflag, l_linestatus"
}
