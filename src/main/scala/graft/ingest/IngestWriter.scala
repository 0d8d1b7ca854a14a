package graft.ingest

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

import graft.dataset.Dataset
import graft.model.MergeConf
import graft.model.MetadataEvent.AddData
import graft.operators.{MergeStrategy, Writer}

/**
 * The ingest commit path: merge the batch against the prior state, then the
 * shared slice pipeline of [[graft.operators.Writer]] (prepareSlice →
 * commitSlice) and one AddData block. Mirrors `DataWriterDataFusion::{stage,write}`
 * (src/infra/ingest-datafusion/src/writer.rs:937-1135, 552-712).
 *
 * Scale notes: the merge and offset assignment are fully distributed (see
 * Writer.assignOffsets — the pipeline's one departure from the reference);
 * only the final single-file slice write funnels through one task —
 * intentional, because ODF slices are bounded at ≤300k records / ≤1 GiB
 * (compaction_planner_impl.rs:221-229), so "one file per slice" is a bounded
 * cost, not a scale bottleneck.
 */
object IngestWriter {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Resolve a stored merge configuration to a strategy. */
  def strategyFor(conf: MergeConf, vocab: graft.model.DatasetVocabulary): MergeStrategy =
    conf.kind match {
      case "append" => MergeStrategy.Append(vocab)
      case "ledger" => MergeStrategy.Ledger(conf.primaryKey, vocab)
      case "snapshot" =>
        MergeStrategy.Snapshot(conf.primaryKey, conf.compareColumns, vocab)
      case "changelogStream" => MergeStrategy.ChangelogStream(conf.primaryKey, vocab)
      case "upsertStream" =>
        MergeStrategy.UpsertStream(conf.primaryKey, conf.arrivalOrderColumn, vocab = vocab)
      case other => throw new IllegalArgumentException(s"unknown merge strategy: $other")
    }

  /**
   * Merge a new batch into the dataset and commit it as one slice + one
   * AddData block. Returns the committed event (None when the merge produced
   * no rows — e.g. an identical snapshot).
   */
  def writeBatch(
      ds: Dataset,
      batch: DataFrame,
      merge: MergeStrategy,
      systemTime: Long,
      eventTimeFallback: Option[Long] = None,
      sourceState: Option[String] = None
  ): Option[AddData] = {
    val chain = ds.chain
    val vocab = ds.vocabulary
    val prevOffset = chain.lastOffset()

    // Snapshot/Upsert merges only need the PRIOR STATE, not the full prior
    // ledger — feed them the content-addressed state cache (O(state) per
    // ingest instead of O(history); the reference reloads all prior data,
    // writer.rs:233-272). Other strategies read the ledger as before.
    val statePk = merge match {
      case s: MergeStrategy.Snapshot      => Some(s.primaryKey)
      case u: MergeStrategy.UpsertStream  => Some(u.primaryKey)
      case _                              => None
    }
    val priorState: Option[DataFrame] =
      if (prevOffset.isEmpty) None
      else statePk.map(pk => loadPriorState(ds, pk))

    val merged = (merge, priorState) match {
      case (s: MergeStrategy.Snapshot, st @ Some(_))     => s.mergeState(st, batch)
      case (u: MergeStrategy.UpsertStream, st @ Some(_)) => u.mergeState(st, batch)
      case _ =>
        val prev = if (prevOffset.isDefined) Some(ds.toDF()) else None
        merge.merge(prev, batch)
    }
    val prepared =
      Writer.prepareSlice(merged, merge.sortOrder, prevOffset, systemTime, vocab, eventTimeFallback)
    Writer.commitSlice(chain, prepared, prevOffset, systemTime, vocab).map { case (added, written) =>
      val event = added.copy(sourceState = sourceState)
      chain.append(event, systemTime)
      // Roll the state cache forward incrementally: project(old state ∪ new
      // slice) — O(state), never O(history). Best-effort: a failure here
      // only means the next ingest rebuilds from the ledger, so it is
      // logged, not thrown.
      statePk.foreach { pk =>
        try updateStateCache(ds, pk, priorState, written)
        catch {
          case NonFatal(e) =>
            log.warn(s"state cache roll-forward failed for dataset ${ds.name}; " +
              "the next ingest rebuilds its prior state from the ledger", e)
        }
      }
      event
    }
  }

  // ---------------------------------------------------------- state cache

  /** Content-addressed state cache: the changelog projection of the dataset
    * AS OF a head hash, at `stateCache/state-<headHash>`. Purely derived —
    * a missing/stale entry rebuilds from the ledger; validity is by name
    * (the head hash), so a crash mid-write at worst leaves an orphan dir
    * that the next update garbage-collects. */
  private def stateCachePath(ds: Dataset, headHash: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(ds.chain.root, "stateCache"), s"state-$headHash")

  /** Prior state for a merge: the cache as of the current head when present,
    * else a fresh projection of the ledger. */
  private[graft] def loadPriorState(ds: Dataset, pk: Seq[String]): DataFrame = {
    val cached = ds.chain.head.map(h => stateCachePath(ds, h._2)).filter(ds.chain.fs.exists)
    cached match {
      case Some(p) => ds.spark.read.parquet(p.toString)
      case None    => graft.operators.Changelog.project(ds.toDF(), pk, ds.vocabulary)
    }
  }

  private[graft] def stateCacheExists(ds: Dataset): Boolean =
    ds.chain.head.exists(h => ds.chain.fs.exists(stateCachePath(ds, h._2)))

  private def updateStateCache(
      ds: Dataset,
      pk: Seq[String],
      oldState: Option[DataFrame],
      newSlice: DataFrame
  ): Unit = {
    val vocab = ds.vocabulary
    val combined = oldState match {
      case Some(st) =>
        graft.operators.Changelog.project(
          st.unionByName(newSlice, allowMissingColumns = true), pk, vocab)
      case None => graft.operators.Changelog.project(newSlice, pk, vocab)
    }
    val fs = ds.chain.fs
    val head = ds.chain.head.get._2
    val target = stateCachePath(ds, head)
    val tmp = new org.apache.hadoop.fs.Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    combined.write.mode("overwrite").parquet(tmp.toString)
    if (!fs.exists(target)) fs.rename(tmp, target) else fs.delete(tmp, true)
    // GC superseded cache entries (older heads)
    if (fs.exists(target.getParent))
      fs.listStatus(target.getParent)
        .map(_.getPath)
        .filter(p => p.getName.startsWith("state-") && p.getName != target.getName)
        .foreach(p => fs.delete(p, true))
  }

  /** Ingest a file according to the chain's SetPollingSource declaration:
    * prep → read → optional preprocess SQL (over temp view `input`) → merge →
    * commit. This is the `kamu pull` data path
    * (polling_ingest_service_impl.rs:471+, engine_datafusion_inproc.rs:74-112). */
  def ingestFile(
      ds: Dataset,
      path: String,
      systemTime: Long,
      sourceState: Option[String] = None,
      applyPrep: Boolean = true,
      eventTimeFallback: Option[Long] = None
  ): Option[AddData] = {
    val src = ds.chain
      .pollingSource()
      .getOrElse(throw new IllegalStateException(s"dataset ${ds.name} has no polling source"))
    // Push ingest bypasses prep: the request body is already the prepared
    // payload (the reference's push path decodes by body media type, not the
    // polling fetch pipeline — ingest_handler.rs:66-175).
    val prepSteps = if (applyPrep) src.prep.getOrElse(Nil) else Nil
    val prepped = prepSteps.foldLeft(java.nio.file.Paths.get(path)) { (p, step) =>
      step.kind match {
        case "decompress" =>
          Fetch.decompress(p, step.format.getOrElse("gzip"), step.subPath)
        case "pipe" =>
          Fetch.pipe(p, step.command.getOrElse(throw new IllegalArgumentException("pipe needs a command")))
        case other => throw new IllegalArgumentException(s"unknown prep step: $other")
      }
    }
    val reader = Readers.forFormat(src.readFormat, src.schemaDdl, src.readOptions)
    val raw = reader(ds.spark, prepped.toString)
    val prepared = src.preprocessSql match {
      case None => raw
      case Some(sql) =>
        raw.createOrReplaceTempView("input")
        ds.spark.sql(sql)
    }
    writeBatch(
      ds,
      prepared,
      strategyFor(src.merge, ds.vocabulary),
      systemTime,
      eventTimeFallback = eventTimeFallback,
      sourceState = sourceState
    )
  }

  /** Push-ingest a file through the chain's named AddPushSource declaration:
    * read → optional preprocess → merge → commit (push_ingest_executor_impl
    * .rs:73-346). No fetch/prep — the caller already delivered the bytes. */
  def ingestPushSource(
      ds: Dataset,
      sourceName: String,
      path: String,
      systemTime: Long
  ): Option[AddData] = {
    val src = ds.chain
      .pushSource(sourceName)
      .getOrElse(throw new IllegalStateException(
        s"dataset ${ds.name} has no enabled push source '$sourceName'"))
    val raw = Readers.forFormat(src.readFormat, src.schemaDdl, src.readOptions)(ds.spark, path)
    val prepared = src.preprocessSql match {
      case None => raw
      case Some(sql) =>
        raw.createOrReplaceTempView("input")
        ds.spark.sql(sql)
    }
    writeBatch(ds, prepared, strategyFor(src.merge, ds.vocabulary), systemTime)
  }

  /**
   * One polling iteration: run the declared fetch step (with the previous
   * source state from the chain), short-circuit to None when the source is
   * unchanged, else prep/read/merge/commit each fetched payload
   * (polling_ingest_service_impl.rs:115-365).
   */
  def pollOnce(ds: Dataset, systemTime: Long): Option[AddData] = {
    val src = ds.chain
      .pollingSource()
      .getOrElse(throw new IllegalStateException(s"dataset ${ds.name} has no polling source"))
    val fetch = src.fetch.getOrElse(
      throw new IllegalStateException(s"dataset ${ds.name} has no fetch step — use ingestFile")
    )
    val prevState = ds.chain.slices().reverseIterator.collectFirst {
      case s if s.sourceState.isDefined => s.sourceState.get
    }
    fetch.kind match {
      case "url" =>
        Fetch.url(fetch.url.get, prevState) match {
          case None          => None // up to date
          case Some(fetched) => ingestFile(ds, fetched.path.toString, systemTime, fetched.sourceState)
        }
      case "filesGlob" =>
        val (files, newState) = Fetch.filesGlob(fetch.glob.get, prevState, fetch.eventTimeRegex)
        if (files.isEmpty) None
        else {
          // Each file is one batch; commit state only on the last so a crash
          // mid-way re-fetches the remainder. The event time captured from
          // the file name (EventTimeSource::FromPath) becomes the batch's
          // event-time fallback.
          def et(f: Fetch.GlobFile): Option[Long] = f.eventTimeFromPath.map(parseEventTime)
          files.init.foreach(f =>
            ingestFile(ds, f.path.toString, systemTime, eventTimeFallback = et(f)))
          ingestFile(ds, files.last.path.toString, systemTime, newState,
            eventTimeFallback = et(files.last))
        }
      case "container" =>
        val fetched = Fetch.container(fetch.command.get)
        ingestFile(ds, fetched.path.toString, systemTime)
      case other => throw new IllegalArgumentException(s"unknown fetch kind: $other")
    }
  }

  /** Event time captured from a file name: a bare date is midnight UTC,
    * anything longer must be a full ISO-8601 instant. */
  private def parseEventTime(sv: String): Long = {
    val inst =
      if (sv.length == 10) java.time.Instant.parse(sv + "T00:00:00Z")
      else java.time.Instant.parse(sv)
    inst.toEpochMilli
  }
}
