package graft.dataset

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.chain.MetadataChain
import graft.ingest.{IngestWriter, Readers}
import graft.model.{MergeConf, MetadataEvent}
import graft.model.MetadataEvent._
import graft.operators.{MergeStrategy, Writer}

class DatasetSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): Path = Files.createTempDirectory("graft-ds-")
  private def ms(s: String): Long = Instant.parse(s).toEpochMilli

  test("metadata chain: append, hash-link, visitors, reset") {
    val root = tmpDir()
    val chain = MetadataChain.create(root)
    val (b0, h0) = chain.append(Seed("test", "root"), ms("2024-01-01T00:00:00Z"))
    val (b1, h1) = chain.append(SetDataSchema("id BIGINT, v STRING"), ms("2024-01-01T00:00:01Z"))
    val (b2, h2) = chain.append(
      AddData(None, 0, 9, 10, "phys", "logi", Some(ms("2024-01-01T00:00:00Z"))),
      ms("2024-01-01T00:00:02Z")
    )
    assert(b0.sequenceNumber === 0 && b0.prevBlockHash.isEmpty)
    assert(b1.prevBlockHash === Some(h0) && b2.prevBlockHash === Some(h1))
    assert(chain.head === Some((2L, h2)))

    // round-trip through files
    val reopened = MetadataChain.open(root)
    assert(reopened.blocks().map(_.event) === Seq(b0.event, b1.event, b2.event))
    assert(reopened.schemaDdl() === Some("id BIGINT, v STRING"))
    assert(reopened.lastOffset() === Some(9L))
    assert(reopened.watermark() === Some(ms("2024-01-01T00:00:00Z")))

    // as-of view pins the prefix
    assert(reopened.slices(Some(h1)).isEmpty)
    assert(reopened.slices(Some(h2)).size === 1)

    // reset rewinds head and drops unreachable blocks
    reopened.reset(h1)
    assert(reopened.head === Some((1L, h1)))
    assert(reopened.blocks().size === 2)
  }

  test("source lifecycle events: push sources, disable semantics, attachments round-trip") {
    val root = tmpDir()
    val chain = MetadataChain.create(root)
    chain.append(Seed("lc", "root"), 0L)
    chain.append(
      SetPollingSource(readFormat = "csv", merge = MergeConf("snapshot", primaryKey = Seq("k"))),
      1L
    )
    chain.append(
      AddPushSource("api", readFormat = "ndjson",
        merge = MergeConf("upsertStream", primaryKey = Seq("k"))),
      2L
    )
    chain.append(SetAttachments(Seq(Attachment("readme", "hello"))), 3L)

    val reopened = MetadataChain.open(root)
    assert(reopened.pollingSource().isDefined)
    assert(reopened.pushSource("api").exists(_.readFormat == "ndjson"))
    assert(reopened.pushSource("other").isEmpty)
    assert(reopened.attachments() === Seq(Attachment("readme", "hello")))

    // disable the polling source: visitor goes dark, push PK still discovered
    reopened.append(DisablePollingSource(), 4L)
    assert(reopened.pollingSource().isEmpty)
    assert(reopened.primaryKey() === Seq("k")) // from the push source now
    // disable the push source too
    reopened.append(DisablePushSource("api"), 5L)
    assert(reopened.pushSource("api").isEmpty)
    // re-declaring re-enables
    reopened.append(AddPushSource("api", readFormat = "csv"), 6L)
    assert(reopened.pushSource("api").exists(_.readFormat == "csv"))
  }

  test("record-limit pruning walks slices head-backwards") {
    val root = tmpDir()
    val chain = MetadataChain.create(root)
    chain.append(Seed("t", "root"), 0)
    for (i <- 0 until 4)
      chain.append(
        AddData(if (i == 0) None else Some(i * 100L - 1), i * 100L, i * 100L + 99, 100,
          s"p$i", s"l$i", None),
        i.toLong
      )
    assert(chain.slicesForLastRecords(50).map(_.physicalHash) === Seq("p3"))
    assert(chain.slicesForLastRecords(100).map(_.physicalHash) === Seq("p3"))
    assert(chain.slicesForLastRecords(101).map(_.physicalHash) === Seq("p2", "p3"))
    assert(chain.slicesForLastRecords(1000).map(_.physicalHash) === Seq("p0", "p1", "p2", "p3"))
  }

  test("dataset: multi-slice append ingest, schema-first reopen, tail pruning") {
    val root = tmpDir()
    val ds = Dataset.create(spark, root, "events", systemTime = 0L)
    val strat = MergeStrategy.Append()

    val t1 = ms("2024-01-01T00:00:00Z")
    val t2 = ms("2024-01-02T00:00:00Z")
    val e1 = IngestWriter.writeBatch(
      ds,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      strat,
      t1
    )
    val e2 = IngestWriter.writeBatch(
      ds,
      Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "v"),
      strat,
      t2
    )
    assert(e1.get.offsetStart === 0L && e1.get.offsetEnd === 1L)
    assert(e2.get.prevOffset === Some(1L))
    assert(e2.get.offsetStart === 2L && e2.get.offsetEnd === 4L)

    // reopen: schema comes from the chain, data from both slices
    val ds2 = Dataset.open(spark, root)
    val df = ds2.toDF()
    assert(df.columns.toSeq === Seq("offset", "op", "system_time", "event_time", "id", "v"))
    assert(df.count() === 5)
    assert(df.orderBy("offset").select("id").as[Long].collect().toSeq === Seq(1L, 2L, 3L, 4L, 5L))

    // watermarks: event_time fell back to system time, watermark advanced
    assert(e1.get.newWatermark === Some(t1) && e2.get.newWatermark === Some(t2))

    // tail reads only the slices needed
    assert(ds2.chain.slicesForLastRecords(2).size === 1)
    assert(ds2.tail(2).select("id").as[Long].collect().toSeq === Seq(4L, 5L))

    // slice files are content-addressed
    val hashes = ds2.chain.slices().map(_.physicalHash)
    hashes.foreach(h => assert(Files.exists(root.resolve("data").resolve(h))))
  }

  test("csv snapshot ingest e2e: two rounds produce the expected changelog") {
    // The reference's cross-engine conformance scenario: cities CSV →
    // snapshot merge → update + implicit retraction
    // (src/infra/core/tests/tests/engine/test_engine_transform.rs:395-648).
    val root = tmpDir()
    val csvDir = tmpDir()
    val r1 = csvDir.resolve("r1.csv")
    val r2 = csvDir.resolve("r2.csv")
    Files.writeString(r1, "city,population\nvancouver,675000\nseattle,733000\nkyiv,2884000\n")
    Files.writeString(r2, "city,population\nvancouver,675000\nseattle,750000\nodessa,1015000\n")

    val ds = Dataset.create(spark, root, "cities", systemTime = 0L)
    ds.chain.append(
      SetPollingSource(
        readFormat = "csv",
        schemaDdl = Some("city STRING, population INT"),
        merge = MergeConf("snapshot", primaryKey = Seq("city"))
      ),
      0L
    )
    val t1 = ms("2024-01-01T00:00:00Z")
    val t2 = ms("2024-02-01T00:00:00Z")

    val e1 = IngestWriter.ingestFile(ds, r1.toString, t1)
    assert(e1.get.numRecords === 3)

    val e2 = IngestWriter.ingestFile(ds, r2.toString, t2)
    assert(e2.get.numRecords === 4)

    // identical snapshot → up-to-date, nothing committed
    assert(IngestWriter.ingestFile(ds, r2.toString, ms("2024-03-01T00:00:00Z")).isEmpty)

    val got = Dataset.open(spark, root).toDF().orderBy("offset")
    val ts1 = new Timestamp(t1)
    val ts2 = new Timestamp(t2)
    val expected = Seq(
      (0L, 0, ts1, ts1, "kyiv", 2884000),
      (1L, 0, ts1, ts1, "seattle", 733000),
      (2L, 0, ts1, ts1, "vancouver", 675000),
      (3L, 1, ts2, ts2, "kyiv", 2884000),
      (4L, 0, ts2, ts2, "odessa", 1015000),
      (5L, 2, ts2, ts2, "seattle", 733000),
      (6L, 3, ts2, ts2, "seattle", 750000)
    ).toDF("offset", "op", "system_time", "event_time", "city", "population")
    assertSameRows(got, expected, ordered = true)

    // changelog-projection service discovers the PK from the chain
    val state = Dataset.open(spark, root).projectState().orderBy("city")
    assert(
      state.select("city", "population").as[(String, Int)].collect().toSeq ===
        Seq(("odessa", 1015000), ("seattle", 750000), ("vancouver", 675000))
    )

    // logical hash is stable across repartitioning
    val df = Dataset.open(spark, root).toDF()
    assert(Writer.logicalHash(df) === Writer.logicalHash(df.repartition(7)))
  }

  test("readers: ndjson, single-doc json with subPath, preprocess sql") {
    val dir = tmpDir()
    val nd = dir.resolve("d.ndjson")
    Files.writeString(nd, """{"id":1,"v":"a"}""" + "\n" + """{"id":2,"v":"b"}""" + "\n")
    val got = Readers.ndjson(spark, nd.toString, Some("id BIGINT, v STRING"))
    assert(got.orderBy("id").as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))

    val doc = dir.resolve("doc.json")
    Files.writeString(doc, """{"meta":{"n":2},"items":[{"id":1,"v":"a"},{"id":2,"v":"b"}]}""")
    val exploded = Readers.json(spark, doc.toString, subPath = Some("items"))
    assert(exploded.orderBy("id").select("id").as[Long].collect().toSeq === Seq(1L, 2L))

    // preprocess SQL runs between read and merge
    val root = tmpDir()
    val ds = Dataset.create(spark, root, "pp", systemTime = 0L)
    ds.chain.append(
      SetPollingSource(
        readFormat = "ndjson",
        schemaDdl = Some("id BIGINT, v STRING"),
        preprocessSql = Some("SELECT id * 10 AS id, upper(v) AS v FROM input"),
        merge = MergeConf("append")
      ),
      0L
    )
    IngestWriter.ingestFile(ds, nd.toString, ms("2024-01-01T00:00:00Z"))
    val rows = ds.toDF().orderBy("offset").select("id", "v").as[(Long, String)].collect().toSeq
    assert(rows === Seq((10L, "A"), (20L, "B")))
  }

  test("schema evolution across slices: added column nulls out old rows; as-of sees old shape") {
    import graft.operators.MergeStrategy
    val root = java.nio.file.Files.createTempDirectory("graft-evo-")
    val ds = Dataset.create(spark, root, "evo")
    IngestWriter.writeBatch(
      ds,
      Seq((1L, "a")).toDF("id", "v"),
      MergeStrategy.Append(),
      systemTime = 1000L
    )
    val headRound1 = ds.chain.head.get._2
    val schemaEvents1 = ds.chain.blocks().count(_.event.isInstanceOf[MetadataEvent.SetDataSchema])
    assert(schemaEvents1 === 1)

    // second batch brings a new column
    IngestWriter.writeBatch(
      ds,
      Seq((2L, "b", 99L)).toDF("id", "v", "extra"),
      MergeStrategy.Append(),
      systemTime = 2000L
    )
    val reopened = Dataset.open(spark, root)
    assert(reopened.chain.blocks().count(_.event.isInstanceOf[MetadataEvent.SetDataSchema]) === 2)

    // current read: union shape, old rows null in the new column
    val now = reopened.toDF().orderBy("offset").select("id", "extra").collect()
    assert(now.map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq ===
      Seq((1L, None), (2L, Some(99L))))

    // as-of the round-1 head: the old schema, no 'extra' column
    val pinned = reopened.toDF(Some(headRound1))
    assert(!pinned.columns.contains("extra"))
    assert(pinned.count() === 1)

    // a third batch with the SAME schema appends no redundant schema event
    IngestWriter.writeBatch(
      ds,
      Seq((3L, "c", 100L)).toDF("id", "v", "extra"),
      MergeStrategy.Append(),
      systemTime = 3000L
    )
    assert(Dataset.open(spark, root).chain.blocks()
      .count(_.event.isInstanceOf[MetadataEvent.SetDataSchema]) === 2)
  }

  test("schema evolution: dropping or retyping a column is rejected at write time") {
    import graft.operators.MergeStrategy
    val root = java.nio.file.Files.createTempDirectory("graft-evo-bad-")
    val ds = Dataset.create(spark, root, "evobad")
    IngestWriter.writeBatch(ds, Seq((1L, "a", 5L)).toDF("id", "v", "n"),
      MergeStrategy.Append(), systemTime = 1000L)
    val blocksBefore = ds.chain.blocks().size

    // dropped column
    val eDrop = intercept[IllegalArgumentException] {
      IngestWriter.writeBatch(ds, Seq((2L, "b")).toDF("id", "v"),
        MergeStrategy.Append(), systemTime = 2000L)
    }
    assert(eDrop.getMessage.contains("'n' dropped"))

    // retyped column (bigint -> string)
    val eRetype = intercept[IllegalArgumentException] {
      IngestWriter.writeBatch(ds, Seq((2L, "b", "oops")).toDF("id", "v", "n"),
        MergeStrategy.Append(), systemTime = 2000L)
    }
    assert(eRetype.getMessage.contains("retyped"))

    // nothing landed in the chain from either rejected batch
    assert(ds.chain.blocks().size === blocksBefore)
  }

  test("schema evolution: lossless widening (int -> bigint) commits and old slices read back") {
    import graft.operators.MergeStrategy
    val root = java.nio.file.Files.createTempDirectory("graft-evo-widen-")
    val ds = Dataset.create(spark, root, "evowiden")
    IngestWriter.writeBatch(ds, Seq((1, "a")).toDF("n", "v"),
      MergeStrategy.Append(), systemTime = 1000L)
    IngestWriter.writeBatch(ds, Seq((2147483648L, "b")).toDF("n", "v"),
      MergeStrategy.Append(), systemTime = 2000L)
    val got = Dataset.open(spark, root).toDF().orderBy("offset")
      .select("n").as[Long].collect().toSeq
    assert(got === Seq(1L, 2147483648L))
  }

  test("state cache: snapshot ingest reuses the projected state and matches the rebuild path") {
    import graft.operators.MergeStrategy
    val rounds = Seq(
      Seq(("kyiv", 2884000), ("seattle", 733000), ("vancouver", 675000)),
      Seq(("odessa", 1015000), ("seattle", 750000), ("vancouver", 675000)), // kyiv retracted
      Seq(("odessa", 1015000), ("seattle", 750000)) // vancouver retracted
    )
    def ingest(ds: Dataset, r: Int): Unit =
      IngestWriter.writeBatch(ds, rounds(r).toDF("city", "population"),
        MergeStrategy.Snapshot(Seq("city")), systemTime = 1000L * (r + 1))

    // dsA: cache active; dsB: cache wiped before every round (always rebuilds)
    val rootA = java.nio.file.Files.createTempDirectory("graft-scache-a-")
    val rootB = java.nio.file.Files.createTempDirectory("graft-scache-b-")
    val dsA = Dataset.create(spark, rootA, "ca")
    val dsB = Dataset.create(spark, rootB, "cb")
    for (r <- rounds.indices) {
      ingest(dsA, r)
      assert(IngestWriter.stateCacheExists(dsA)) // rolled forward per commit
      val cacheDir = new org.apache.hadoop.fs.Path(dsB.chain.root, "stateCache")
      dsB.chain.fs.delete(cacheDir, true)
      ingest(dsB, r)
    }
    val a = dsA.toDF().orderBy("offset").collect().toSeq
    val b = dsB.toDF().orderBy("offset").collect().toSeq
    assert(a === b) // cached and rebuilt paths produce identical ledgers
    // final state from the cache equals a fresh full-ledger projection
    val cachedState = IngestWriter.loadPriorState(dsA, Seq("city"))
      .select("city", "population").orderBy("city").collect().toSeq
    val freshState = graft.operators.Changelog.project(dsA.toDF(), Seq("city"))
      .select("city", "population").orderBy("city").collect().toSeq
    assert(cachedState === freshState)
    assert(cachedState.map(_.getString(0)) === Seq("odessa", "seattle"))
  }

  test("data dir only ever holds final content-addressed slices (staging is a sibling)") {
    import graft.operators.MergeStrategy
    val root = java.nio.file.Files.createTempDirectory("graft-stagedir-")
    val ds = Dataset.create(spark, root, "staged")
    for (i <- 0 until 3)
      IngestWriter.writeBatch(ds, Seq((i.toLong, s"v$i")).toDF("id", "v"),
        MergeStrategy.Append(), systemTime = 1000L * (i + 1))
    graft.maintenance.Maintenance.compact(Dataset.open(spark, root), maxRecords = 2)
    val re = Dataset.open(spark, root)
    val expected = re.chain.slices().map(_.physicalHash).toSet
    val onDisk = re.chain.fs.listStatus(re.chain.dataDir)
      .map(_.getPath.getName).filterNot(_.endsWith(".crc")).toSet
    // nothing but the committed content-addressed slice files — a streaming
    // consumer of data/ can never observe a transient staging artifact
    assert(onDisk === expected)
  }

  test("datasets work with a file://-qualified root (Hadoop FileSystem routing)") {
    import graft.operators.MergeStrategy
    val dir = java.nio.file.Files.createTempDirectory("graft-fsuri-")
    val uri = "file://" + dir.resolve("ds")
    val ds = Dataset.createAt(spark, uri, "fsuri")
    IngestWriter.writeBatch(ds, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      MergeStrategy.Append(), 1000L)
    val re = Dataset.open(spark, uri)
    assert(re.chain.root.toUri.getScheme === "file")
    assert(re.toDF().orderBy("offset").select("id").as[Long].collect().toSeq === Seq(1L, 2L))
    // compaction, GC, and verification all flow through the same FileSystem
    val compacted = graft.maintenance.Maintenance.compact(re, maxRecords = 1L)
    assert(compacted.chain.slices().size === 2)
    assert(graft.maintenance.Maintenance.verify(compacted).isEmpty)
  }

  test("primaryKey: a disabled push source's key is not used") {
    import graft.model.MetadataEvent.{AddPushSource, DisablePushSource}
    val root = tmpDir()
    val ds = Dataset.create(spark, root, "pkdisable", systemTime = 0L)
    ds.chain.append(
      AddPushSource("src1", readFormat = "ndjson", schemaDdl = Some("id BIGINT, v STRING"),
        merge = MergeConf("ledger", primaryKey = Seq("id"))),
      0L
    )
    assert(ds.chain.primaryKey() === Seq("id"))
    ds.chain.append(DisablePushSource("src1"), 1L)
    assert(ds.chain.primaryKey() === Nil)
    // a later enabled source with a key takes over
    ds.chain.append(
      AddPushSource("src2", readFormat = "ndjson", schemaDdl = Some("k BIGINT, v STRING"),
        merge = MergeConf("ledger", primaryKey = Seq("k"))),
      2L
    )
    assert(ds.chain.primaryKey() === Seq("k"))
  }
}
