package graft.transform

import java.nio.file.Files

import graft.SparkSpec
import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.model.MetadataEvent.SqlStep
import graft.operators.MergeStrategy

class TransformSpec extends SparkSpec {
  import spark.implicits._

  private def ms(s: String) = java.time.Instant.parse(s).toEpochMilli
  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  test("watermark propagation: derivative wm = min(input wms), clamped monotonic") {
    val work = Files.createTempDirectory("graft-wm-")
    def ingest(ds: Dataset, eventTime: String, sysTime: String): Unit =
      IngestWriter.writeBatch(
        ds,
        Seq((ts(eventTime), eventTime)).toDF("event_time", "tag"),
        MergeStrategy.Append(),
        ms(sysTime)
      )

    val a = Dataset.create(spark, work.resolve("wma"), "wma")
    val b = Dataset.create(spark, work.resolve("wmb"), "wmb")
    ingest(a, "2024-01-10T00:00:00Z", "2024-06-01T00:00:00Z")
    ingest(b, "2024-01-05T00:00:00Z", "2024-06-01T00:00:00Z")
    assert(a.chain.watermark() === Some(ms("2024-01-10T00:00:00Z")))
    assert(b.chain.watermark() === Some(ms("2024-01-05T00:00:00Z")))

    val d = Dataset.create(spark, work.resolve("wmd"), "wmd", kind = "derivative")
    TransformService.setTransform(
      d,
      Seq("wma", "wmb"),
      Seq(SqlStep(None, "SELECT event_time, tag FROM wma UNION ALL SELECT event_time, tag FROM wmb")),
      0L
    )
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))

    // round 1: wm = min(2024-01-10, 2024-01-05)
    assert(TransformService.executeTransform(d, resolve, ms("2024-06-02T00:00:00Z"))
      .isInstanceOf[TransformService.Updated])
    assert(resolve("wmd").chain.watermark() === Some(ms("2024-01-05T00:00:00Z")))

    // nothing new -> UpToDate, wm untouched
    assert(TransformService.executeTransform(d, resolve, ms("2024-06-03T00:00:00Z")) ==
      TransformService.UpToDate)

    // advance only b past a: derivative wm = min(1-10, 2-01) = a's wm
    ingest(resolve("wmb"), "2024-02-01T00:00:00Z", "2024-06-04T00:00:00Z")
    TransformService.executeTransform(d, resolve, ms("2024-06-05T00:00:00Z"))
    assert(resolve("wmd").chain.watermark() === Some(ms("2024-01-10T00:00:00Z")))

    // a regresses its event times (late data): input wm clamps (stays 1-10),
    // derivative wm must not regress either
    ingest(resolve("wma"), "2024-01-01T00:00:00Z", "2024-06-06T00:00:00Z")
    TransformService.executeTransform(d, resolve, ms("2024-06-07T00:00:00Z"))
    assert(resolve("wmd").chain.watermark() === Some(ms("2024-01-10T00:00:00Z")))
  }

  test("multi-step SQL: intermediate steps become views, last step produces output") {
    val work = Files.createTempDirectory("graft-steps-")
    val a = Dataset.create(spark, work.resolve("stepa"), "stepa")
    IngestWriter.writeBatch(
      a,
      Seq((ts("2024-01-01T00:00:00Z"), "x", 10L), (ts("2024-01-01T00:00:00Z"), "y", 4L))
        .toDF("event_time", "k", "v"),
      MergeStrategy.Append(), ms("2024-06-01T00:00:00Z"))

    val d = Dataset.create(spark, work.resolve("stepd"), "stepd", kind = "derivative")
    TransformService.setTransform(
      d,
      Seq("stepa"),
      Seq(
        SqlStep(Some("doubled"), "SELECT event_time, k, v * 2 AS v2 FROM stepa"),
        SqlStep(Some("big"), "SELECT * FROM doubled WHERE v2 > 10"),
        SqlStep(None, "SELECT event_time, k, v2 FROM big")
      ),
      0L
    )
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))
    TransformService.executeTransform(d, resolve, ms("2024-06-02T00:00:00Z"))
    val rows = resolve("stepd").toDF().select("k", "v2").as[(String, Long)].collect().toSeq
    assert(rows === Seq(("x", 20L)))
  }

  test("incremental intervals: each run sees only (prev, new] of each input") {
    val work = Files.createTempDirectory("graft-inc-")
    val a = Dataset.create(spark, work.resolve("inca"), "inca")
    IngestWriter.writeBatch(
      a, Seq((ts("2024-01-01T00:00:00Z"), "r1a"), (ts("2024-01-01T00:00:00Z"), "r1b"))
        .toDF("event_time", "tag"),
      MergeStrategy.Append(), ms("2024-06-01T00:00:00Z"))

    val d = Dataset.create(spark, work.resolve("incd"), "incd", kind = "derivative")
    TransformService.setTransform(
      d, Seq("inca"), Seq(SqlStep(None, "SELECT event_time, tag FROM inca")), 0L)
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))

    TransformService.executeTransform(d, resolve, ms("2024-06-02T00:00:00Z"))
    assert(resolve("incd").toDF().count() === 2)

    IngestWriter.writeBatch(
      resolve("inca"), Seq((ts("2024-01-02T00:00:00Z"), "r2a")).toDF("event_time", "tag"),
      MergeStrategy.Append(), ms("2024-06-03T00:00:00Z"))
    TransformService.executeTransform(d, resolve, ms("2024-06-04T00:00:00Z"))
    val out = resolve("incd").toDF().orderBy("offset").collect()
    // only ONE new row appended (the second run never re-read round 1)
    assert(out.length === 3)
    assert(out.map(_.getAs[String]("tag")).toSeq === Seq("r1a", "r1b", "r2a"))
  }

  test("schema evolution of a derivative: an added column is declared, a retype is rejected") {
    val work = Files.createTempDirectory("graft-evo-")
    Dataset.create(spark, work.resolve("evoa"), "evoa")
    def ingest(k: String, v: Long, sysTime: String): Unit =
      IngestWriter.writeBatch(
        Dataset.open(spark, work.resolve("evoa")),
        Seq((ts("2024-01-01T00:00:00Z"), k, v)).toDF("event_time", "k", "v"),
        MergeStrategy.Append(), ms(sysTime))
    ingest("x", 1L, "2024-06-01T00:00:00Z")

    val d = Dataset.create(spark, work.resolve("evod"), "evod", kind = "derivative")
    TransformService.setTransform(d, Seq("evoa"), Seq(SqlStep(None, "SELECT event_time, k FROM evoa")), 0L)
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))
    TransformService.executeTransform(d, resolve, ms("2024-06-02T00:00:00Z"))

    // replacement adds column v: the new slice carries it, and the schema
    // declared for reads must too (old rows read it as null)
    ingest("y", 2L, "2024-06-03T00:00:00Z")
    TransformService.setTransform(
      d, Seq("evoa"), Seq(SqlStep(None, "SELECT event_time, k, v FROM evoa")), ms("2024-06-03T00:00:00Z"))
    TransformService.executeTransform(d, resolve, ms("2024-06-04T00:00:00Z"))
    val out = resolve("evod").toDF().orderBy("offset")
    assert(out.columns.contains("v"))
    assert(out.select("k", "v").as[(String, Option[Long])].collect().toSeq ===
      Seq(("x", None), ("y", Some(2L))))
    // replay runs each slice under the transform it was committed with
    assert(graft.maintenance.Maintenance.verifyTransform(resolve("evod"), resolve).isEmpty)

    // replacement retypes v: rejected at commit, head unmoved
    ingest("z", 3L, "2024-06-05T00:00:00Z")
    TransformService.setTransform(
      d, Seq("evoa"), Seq(SqlStep(None, "SELECT event_time, k, CAST(v AS STRING) AS v FROM evoa")),
      ms("2024-06-05T00:00:00Z"))
    val headBefore = resolve("evod").chain.head
    val e = intercept[IllegalArgumentException](
      TransformService.executeTransform(resolve("evod"), resolve, ms("2024-06-06T00:00:00Z")))
    assert(e.getMessage.contains("column 'v' retyped"), e.getMessage)
    assert(resolve("evod").chain.head === headBefore)
    assert(resolve("evod").toDF().count() === 2)
  }

  test("pullPlan: depth levels group independent datasets; cycles rejected") {
    val work = Files.createTempDirectory("graft-plan-pull-")
    def mk(name: String, inputs: Seq[String]): Dataset = {
      val ds = Dataset.create(spark, work.resolve(name), name,
        kind = if (inputs.isEmpty) "root" else "derivative")
      if (inputs.nonEmpty)
        TransformService.setTransform(ds, inputs,
          Seq(SqlStep(None, s"SELECT * FROM ${inputs.head}")), 0L)
      ds
    }
    // diamond: a -> (b, c) -> d ; b and c share depth 1 and are independent
    mk("a", Nil); mk("b", Seq("a")); mk("c", Seq("a")); mk("d", Seq("b", "c"))
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))
    val plan = TransformService.pullPlan(resolve("d"), resolve)
    assert(plan.map(_.map(_.name).sorted) === Seq(Seq("a"), Seq("b", "c"), Seq("d")))

    // cycle: x -> y -> x must be rejected, not loop forever
    mk("x", Seq("y")); mk("y", Seq("x"))
    val e = intercept[IllegalStateException](TransformService.pullPlan(resolve("x"), resolve))
    assert(e.getMessage.contains("cycle"))
  }
}
