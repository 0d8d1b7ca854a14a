package graft.transform

import org.apache.spark.sql.DataFrame

import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.model.MetadataEvent._
import graft.operators.{MergeStrategy, Writer}

/**
 * Incremental derivative transforms: a dataset declares a SQL transform over
 * named inputs once (SetTransform), and every execution sees only the
 * half-open offset interval (prevOffset, newOffset] of each input that is
 * new since the last run — mirroring the reference's elaboration + execution
 * services (src/infra/core/src/services/transform/
 * transform_elaboration_service_impl.rs:46-112, transform_executor_impl.rs).
 *
 * Scale shape: the input slice is selected at the FILE level first (only
 * chain slices overlapping the offset interval are scanned) with a residual
 * offset filter pushed into the parquet scan — an incremental run over a
 * 100 TB input reads only the new slice files.
 */
object TransformService {

  sealed trait TransformResult
  case object UpToDate extends TransformResult
  final case class Updated(event: ExecuteTransform) extends TransformResult

  /** Declare (or replace) the transform of a derivative dataset. `engine`
    * `Some("spark-streaming")` marks a STATEFUL streaming transform (state
    * continuity via the recorded checkpoint artifact); None = batch SQL. */
  def setTransform(ds: Dataset, inputs: Seq[String], steps: Seq[SqlStep], systemTime: Long,
      engine: Option[String] = None): Unit =
    ds.chain.append(SetTransform(inputs, steps, engine), systemTime)

  /** The (prev, new] offset interval of one input for the next run. */
  private def inputInterval(
      output: Dataset,
      inputName: String,
      input: Dataset
  ): (Option[Long], Option[Long]) = {
    val prev = output.chain
      .lastExecuteTransform()
      .flatMap(_.inputs.find(_.datasetName == inputName))
      .flatMap(_.newOffset)
    (prev, input.chain.lastOffset())
  }

  /**
   * Execute one incremental run of `output`'s declared transform. Inputs are
   * resolved by name; each is registered as a temp view holding ONLY its new
   * offset interval. Multi-step SQL: every step with an alias becomes a view;
   * the last step (or the only one) produces the output rows, which are
   * stamped, offset-assigned, written as a slice, and committed as an
   * ExecuteTransform block.
   */
  def executeTransform(
      output: Dataset,
      resolve: String => Dataset,
      systemTime: Long
  ): TransformResult = {
    val spark = output.spark
    val decl = output.chain
      .transform()
      .getOrElse(throw new IllegalStateException(s"dataset ${output.name} has no SetTransform"))

    // stateful streaming engine: state-store continuity across runs — the
    // run consumes whatever input slices its file-source log has not seen
    // and emits only watermark-finalized rows (StreamingTransform.runStateful)
    if (decl.engine.contains("spark-streaming")) {
      require(decl.inputs.size == 1,
        "spark-streaming transforms take exactly one input (stream-stream composition lives in the SQL)")
      val in = resolve(decl.inputs.head)
      val fn: DataFrame => DataFrame = { stream =>
        // event-time column + zero delay: watermark = max event time seen,
        // so a window finalizes as soon as any later-time slice arrives
        val wm = stream.withWatermark(in.vocabulary.eventTimeColumn, "0 seconds")
        wm.createOrReplaceTempView(decl.inputs.head)
        decl.steps.init.foreach { s =>
          val alias =
            s.alias.getOrElse(throw new IllegalStateException("intermediate step needs an alias"))
          spark.sql(s.query).createOrReplaceTempView(alias)
        }
        spark.sql(decl.steps.last.query)
      }
      return graft.streaming.StreamingTransform.runStateful(
        output, in, fn, queryName = "decl", clock = () => systemTime) match {
        case Some(ev) => Updated(ev)
        case None     => UpToDate
      }
    }

    val intervals = decl.inputs.map { name =>
      val in = resolve(name)
      val (prev, newOff) = inputInterval(output, name, in)
      (name, in, prev, newOff)
    }

    if (intervals.forall { case (_, _, prev, newOff) => prev == newOff }) return UpToDate

    intervals.foreach { case (name, in, prev, newOff) =>
      in.changesSince(prev, newOff).createOrReplaceTempView(name)
    }
    val result: DataFrame = decl.steps match {
      case Seq() => throw new IllegalStateException("SetTransform with no steps")
      case steps =>
        steps.init.foreach { s =>
          val alias =
            s.alias.getOrElse(throw new IllegalStateException("intermediate step needs an alias"))
          spark.sql(s.query).createOrReplaceTempView(alias)
        }
        spark.sql(steps.last.query)
    }

    val inputStates = intervals.map { case (name, _, prev, newOff) =>
      TransformInputState(name, prev, newOff)
    }
    // Watermark propagation (dtos_generated.rs:1171-1196): the derivative's
    // watermark is the MIN of its inputs' watermarks (it cannot claim
    // completeness beyond its least-complete input), clamped to never
    // regress below the output's own previous watermark.
    val inputWms = intervals.map { case (_, in, _, _) => in.chain.watermark() }
    val propagated =
      if (inputWms.nonEmpty && inputWms.forall(_.isDefined)) Some(inputWms.flatten.min) else None
    val prevWm = output.chain.watermark()
    val outWm = (propagated, prevWm) match {
      case (Some(p), Some(o)) => Some(math.max(p, o))
      case (p, o)             => p.orElse(o)
    }

    val newData = commitOutput(output, result, systemTime).map(_.copy(newWatermark = outWm))

    val event = ExecuteTransform(inputStates, newData)
    output.chain.append(event, systemTime)
    Updated(event)
  }

  /** Commit a transform's output rows as the next slice of `output` through
    * the shared slice pipeline — batch, streaming and stateful transforms
    * alike. The caller wraps the AddData in its ExecuteTransform. */
  private[graft] def commitOutput(
      output: Dataset,
      rows: DataFrame,
      systemTime: Long
  ): Option[AddData] = {
    val vocab = output.vocabulary
    val prevOffset = output.chain.lastOffset()
    val prepared =
      Writer.prepareSlice(rows, MergeStrategy.totalOrder(_, vocab), prevOffset, systemTime, vocab)
    Writer.commitSlice(output.chain, prepared, prevOffset, systemTime, vocab).map(_._1)
  }

  // ------------------------------------------------------------ pull plan

  /** One dataset's outcome in a recursive pull. */
  sealed trait PullResult
  /** Root dataset: one poll round committed new data. */
  final case class RootUpdated(event: graft.model.MetadataEvent.AddData) extends PullResult
  /** Root dataset: polled, nothing new (or polling disabled for this run). */
  case object RootUpToDate extends PullResult
  /** Derivative dataset: transform executed (or found up to date). */
  final case class Derived(result: TransformResult) extends PullResult

  /**
   * Dependency-ordered pull plan for a target dataset: walk `SetTransform`
   * inputs depth-first assigning every dataset the depth `1 + max(inputs)`
   * (roots = 0); datasets sharing a depth are independent of each other, so
   * the plan is a list of LEVELS in execution order — the reference's
   * `PullGraphDepthFirstTraversal` (pull_request_planner_impl.rs:56-100).
   * Throws on a dependency cycle (`IllegalStateException`).
   */
  def pullPlan(target: Dataset, resolve: String => Dataset): Seq[Seq[Dataset]] = {
    val depths = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val byName = scala.collection.mutable.Map.empty[String, Dataset]
    def visit(ds: Dataset, visiting: List[String]): Int = {
      val name = ds.name
      if (visiting.contains(name))
        throw new IllegalStateException(
          s"dependency cycle: ${(name :: visiting).reverse.mkString(" -> ")}")
      depths.get(name) match {
        case Some(d) => d
        case None =>
          byName(name) = ds
          val d = ds.chain.transform() match {
            case None       => 0
            case Some(decl) =>
              // maxOption: a zero-input SetTransform is degenerate but must
              // not crash the planner; it executes (and returns UpToDate)
              // like any other derivative.
              1 + decl.inputs.map(n => visit(resolve(n), name :: visiting)).maxOption.getOrElse(-1)
          }
          depths(name) = d
          d
      }
    }
    visit(target, Nil)
    depths.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (_, names) => names.map { case (n, _) => byName(n) }
    }
  }

  /**
   * Pull a dataset and everything it depends on, in dependency order: roots
   * run one ingest poll round (when they declare a polling source and
   * `pollRoots` is set), derivatives run [[executeTransform]] — the
   * reference's `kamu pull --recursive`
   * (pull_command.rs, pull_request_planner_impl.rs:142-146 executes level by
   * level). Returns (datasetName, result) in execution order.
   */
  def pullRecursive(
      target: Dataset,
      resolve: String => Dataset,
      systemTime: Long,
      pollRoots: Boolean = true
  ): Seq[(String, PullResult)] =
    pullPlan(target, resolve).flatten.map { ds =>
      val result = ds.chain.transform() match {
        case Some(_) => Derived(executeTransform(ds, resolve, systemTime))
        case None =>
          if (pollRoots && ds.chain.pollingSource().isDefined)
            IngestWriter.pollOnce(ds, systemTime) match {
              case Some(ev) => RootUpdated(ev)
              case None     => RootUpToDate
            }
          else RootUpToDate
      }
      ds.name -> result
    }
}
