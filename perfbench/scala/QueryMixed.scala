package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable

import graft.adapter.RestServer
import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.maintenance.Maintenance
import graft.model.MergeConf
import graft.model.MetadataEvent.SetPollingSource
import graft.operators.MergeStrategy
import graft.query.QueryService

/**
 * The served read path: one closed-loop client sends `POST /query` requests
 * to an in-process [[RestServer]] on loopback, over an `orders` ledger of
 * tens of slices and a `customer` dataset. Every [[QueryMixed.WriteEvery]]-th
 * request is a `POST /datasets/orders/ingest` push, so the head moves under
 * the reads. The seed picks the order of query kinds and their parameters.
 */
final class QueryMixed(ctx: Ctx) extends Workload {
  import QueryMixed._
  import ctx.{seed, spark}

  private var orders: Dataset = _
  private var customer: Dataset = _
  private var server: RestServer = _
  private var base = ""
  private val client = HttpClient.newHttpClient()
  private var nextKey = 0L
  private var requestNo = WarmRequests
  private val failures = mutable.ArrayBuffer.empty[String]
  /** (sql, response body) of every answered query, for the oracle. */
  private val answers = mutable.ArrayBuffer.empty[(String, String)]

  /** `orders` as one commit split by compaction into [[QueryMixed.Slices]]
    * slices (one job instead of tens of commits), and `customer` as one
    * commit; then a server over both. The first fixture's server is warmed
    * by a few requests of every kind, pushes included (their rows count as
    * fed); the traced run's fixtures are built in a JVM that is warm by then. */
  def buildFixture(n: Int): Unit = {
    val dir = ctx.dir("query_mixed", s"fixture$n")
    orders = Dataset.create(spark, dir.resolve("orders"), "orders")
    orders.chain.append(SetPollingSource("csv", schemaDdl = Some(Data.OrdersDdl),
      merge = MergeConf("append")), 0L)
    val append = MergeStrategy.Append()
    val rows = (1L to Slices * SliceRows).map(Data.order(seed, _))
    IngestWriter.writeBatch(orders, Data.frame(spark, rows, Data.OrdersSchema), append,
      1600000000000L)
    orders = Maintenance.compact(orders, maxRecords = SliceRows)
    nextKey = Slices * SliceRows + 1L
    customer = Dataset.create(spark, dir.resolve("customer"), "customer")
    val custRows = (1L to Data.Customers).map(Data.customer(seed, _))
    IngestWriter.writeBatch(customer,
      Data.frame(spark, custRows, org.apache.spark.sql.types.StructType.fromDDL(Data.CustomerDdl)),
      append, 1600000000000L)
    startServer()
    if (n == 1) {
      val rec = new Recorder(spark, traced = false)
      (0L until WarmRequests).foreach(i => request(rec, i, keep = false))
    }
  }

  private def startServer(): Unit = {
    if (server != null) server.stop()
    val served = Map("orders" -> orders, "customer" -> customer)
    server = new RestServer(new QueryService(spark, served), served).start()
    base = s"http://127.0.0.1:${server.boundPort}"
  }

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def date(day: Long): String = java.time.LocalDate.ofEpochDay(Data.FirstDay + day).toString

  /** The seeded query of request `i`: kind and SQL. Every block of four
    * requests holds each kind once, in a seeded rotation, so the mix is the
    * same for every seed. */
  def query(i: Long): (String, String) = {
    val h = Data.mix(seed, 0x9e57, i)
    val lo = Data.pick(Data.mix(h, 1), Data.Days - 120)
    (Data.pick(Data.mix(seed, i / 4), 4) + i) % 4 match {
      case 0 => "range_agg" ->
        (s"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders " +
          s"WHERE o_orderdate >= DATE'${date(lo)}' AND o_orderdate < DATE'${date(lo + 90)}' " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
      case 1 => "point" ->
        (s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders " +
          s"WHERE o_orderkey = ${1L + Data.pick(Data.mix(h, 2), nextKey - 1)}")
      case 2 => "join" ->
        (s"SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalprice) AS total " +
          "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
          s"WHERE o.o_orderdate >= DATE'${date(lo)}' AND o.o_orderdate < DATE'${date(lo + 30)}' " +
          "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment")
      case _ => "tail" ->
        "SELECT `offset`, o_orderkey, o_totalprice FROM orders ORDER BY `offset` DESC LIMIT 10"
    }
  }

  private def ingestBody(): String = {
    val rows = (nextKey until nextKey + PushRows).map(Data.order(seed, _))
    nextKey += PushRows
    val header = Data.OrdersSchema.fieldNames.mkString(",")
    (header +: rows.map(_.toSeq.map(Util.plain).mkString(","))).mkString("\n") + "\n"
  }

  private def request(rec: Recorder, i: Long, keep: Boolean): Unit =
    if (i % WriteEvery == WriteEvery - 1) {
      val body = ingestBody()
      rec.op("ingest", Map("request_bytes" -> body.length)) {
        post("/datasets/orders/ingest?format=csv", body)
      }.foreach { r =>
        rec.annotate("status" -> r.statusCode(), "response_bytes" -> r.body().length)
        if (keep && (r.statusCode() != 200 || !r.body().contains("\"committed\":true")))
          failures += s"ingest: HTTP ${r.statusCode()} ${r.body().take(200)}"
      }
    } else {
      val (kind, sql) = query(i)
      rec.op("query", Map("kind" -> kind)) {
        post("/query", s"""{"query":${J.str(sql)},"limit":100}""")
      }.foreach { r =>
        rec.annotate("status" -> r.statusCode(), "response_bytes" -> r.body().length,
          "rows_returned" -> rowsIn(r.body()))
        if (keep) {
          if (r.statusCode() != 200) failures += s"query $kind: HTTP ${r.statusCode()} ${r.body().take(200)}"
          else answers += sql -> r.body()
        }
      }
    }

  /** Rows in a `{"data":[{...},...],"state":...}` answer of flat rows. */
  private def rowsIn(body: String): Int = {
    val (i, j) = (body.indexOf("\"data\":["), body.lastIndexOf("],\"state\""))
    if (i < 0 || j < i) 0 else body.substring(i, j).count(_ == '{')
  }

  def iterations(seconds: Double): Int = math.max(MinRequests, math.round(seconds / RequestS).toInt)

  def run(rec: Recorder, iterations: Int): Unit = {
    answers.clear()
    (1 to iterations).foreach { _ =>
      request(rec, requestNo, keep = !rec.traced)
      requestNo += 1
    }
  }

  def check(rec: Recorder): Seq[String] = {
    val got = orders.chain.lastOffset().map(_ + 1).getOrElse(0L)
    if (got != nextKey - 1) failures += s"ingest: orders holds $got rows, ${nextKey - 1} fed"
    failures.toSeq
  }

  /** Each answer's SQL, body, and the slice files of every pinned head. */
  override def oracleInputs(rec: Recorder): Map[String, Any] = {
    val served = Map("orders" -> orders, "customer" -> customer)
    val pinned = mutable.LinkedHashMap.empty[String, Seq[String]]
    val pin = "\"(orders|customer)\":\"([0-9a-f]+)\"".r
    answers.foreach { case (_, body) =>
      pin.findAllMatchIn(body.substring(body.lastIndexOf("\"state\":"))).foreach { m =>
        val (name, hash) = (m.group(1), m.group(2))
        pinned.getOrElseUpdate(s"$name@$hash", {
          val chain = served(name).chain
          chain.slicePaths(chain.slices(Some(hash)))
            .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)
        })
      }
    }
    Map("queries" -> answers.map { case (sql, body) => Map("sql" -> sql, "body" -> body) },
      "pins" -> pinned)
  }

  override def close(): Unit = if (server != null) server.stop()
}

object QueryMixed {
  val Slices = 20
  val SliceRows = 1500L
  val WarmRequests = 16L
  val PushRows = 200
  val WriteEvery = 10L
  val MinRequests = 20
  /** Calibration: seconds per request on a 4-core host. */
  val RequestS = 0.55
}
