package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}

import graft.dataset.Dataset

/**
 * Interactive SQL over datasets — the Spark-side equivalent of
 * `QueryServiceImpl` (src/infra/core/src/services/query_service_impl.rs):
 *
 *  1. parse the statement and extract referenced table names
 *     (:741-808 — the reference walks the sqlparser AST; we walk Catalyst's
 *     unresolved `parsePlan`, which covers CTEs/joins/set-exprs for free),
 *  2. pin every referenced dataset to a block hash (:59-130) so the query is
 *     reproducible — an explicit pin via `asOf`, else the current head,
 *  3. register each pinned dataset as a temp view and run `spark.sql`.
 *
 * When `catalog` is set, step 3 routes the pinned reads through the DSv2
 * [[GraftCatalog]] (`spark.read.option("versionAsOf", hash).table(...)`)
 * instead of building DataFrames directly — same pinning semantics, but the
 * scan resolves through the catalog path any external Spark consumer uses.
 */
final class QueryService(
    private[graft] val spark: SparkSession,
    initial: Map[String, Dataset],
    catalog: Option[String] = None) {

  /** Datasets added after construction (an HTTP push into a served node can
    * create one); reads see `initial ++ registered`. */
  private val registered = new scala.collection.concurrent.TrieMap[String, Dataset]()
  def register(name: String, ds: Dataset): Unit = registered.put(name, ds)
  private def datasets: Map[String, Dataset] = initial ++ registered

  /** The pinned state a query ran against: dataset → block hash. */
  final case class QueryState(inputs: Map[String, String])

  /** Table names referenced by the statement (CTE aliases excluded). CTE
    * definition bodies are not in `children` of UnresolvedWith, so they are
    * traversed explicitly — a ref used only inside a CTE still gets pinned. */
  def extractTableRefs(statement: String): Seq[String] = {
    val plan: LogicalPlan = spark.sessionState.sqlParser.parsePlan(statement)
    val withs = plan.collect { case w: UnresolvedWith => w }
    val cteNames = withs.flatMap(_.cteRelations.map(_._1)).toSet
    val roots: Seq[LogicalPlan] = plan +: withs.flatMap(_.cteRelations.map(_._2))
    roots
      .flatMap(_.collect { case r: UnresolvedRelation => r.multipartIdentifier.mkString(".") })
      .distinct
      .filterNot(cteNames.contains)
  }

  /** Run a SQL statement over pinned dataset state; returns the result and
    * the state it was pinned to. Unknown references fall through to whatever
    * views/tables already exist in the session. */
  def sqlWithState(
      statement: String,
      asOf: Map[String, String] = Map.empty,
      lastRecords: Option[Long] = None
  ): (DataFrame, QueryState) = {
    val refs = extractTableRefs(statement).filter(datasets.contains)
    val pins = refs.map { name =>
      val ds = datasets(name)
      val hash = asOf.getOrElse(
        name,
        ds.chain.head
          .map(_._2)
          .getOrElse(throw new IllegalStateException(s"dataset $name has an empty chain"))
      )
      name -> hash
    }.toMap
    pins.foreach { case (name, hash) =>
      val ds = datasets(name)
      val df = lastRecords match {
        case Some(n) => ds.tail(n.toInt, Some(hash))
        case None =>
          catalog match {
            case Some(cat) =>
              spark.read.option("versionAsOf", hash).table(s"$cat.default.$name")
            case None => ds.toDF(Some(hash))
          }
      }
      df.createOrReplaceTempView(name)
    }
    (spark.sql(statement), QueryState(pins))
  }

  def sql(statement: String, asOf: Map[String, String] = Map.empty): DataFrame =
    sqlWithState(statement, asOf)._1

  /** Run a statement and produce a verifiable [[QueryProof]] binding the
    * statement digest, the pinned input block hashes, and the
    * order-independent logical hash of the result — signed when a node key
    * is given (query_types.rs:223-307). Note the proof hashes the FULL
    * result; pagination happens after proving, like the reference. */
  def sqlProved(
      statement: String,
      asOf: Map[String, String] = Map.empty,
      nodeKey: Option[java.security.KeyPair] = None
  ): (DataFrame, QueryProof) = {
    val (df, state) = sqlWithState(statement, asOf)
    val bare = QueryProof(
      queryDigest = QueryProof.queryDigest(statement),
      inputs = state.inputs,
      resultHash = graft.operators.Writer.logicalHash(df)
    )
    (df, nodeKey.map(bare.signed).getOrElse(bare))
  }

  /** Reproduce a proof: re-run the statement against the PINNED block hashes
    * and compare result hashes. True = the recorded result is what this
    * dataset state yields today. */
  def reproduce(statement: String, proof: QueryProof): Boolean = {
    if (QueryProof.queryDigest(statement) != proof.queryDigest) return false
    val (df, state) = sqlWithState(statement, asOf = proof.inputs)
    state.inputs == proof.inputs &&
    graft.operators.Writer.logicalHash(df) == proof.resultHash
  }

  /** Last-n service over a dataset (query_service_impl.rs:446-497). */
  def tail(name: String, n: Int): DataFrame = datasets(name).tail(n)

  /** State projection service with PK discovery (:630-738). */
  def state(name: String): DataFrame = datasets(name).projectState()

  /** Schema introspection (schema_service_impl.rs; response formats
    * odf/data-utils/src/schema/format.rs): DDL, Spark-JSON, parquet message
    * text, and Arrow schema JSON forms. */
  def schemaDdl(name: String): Option[String] = datasets(name).chain.schemaDdl()
  def schemaJson(name: String): Option[String] =
    datasets(name).chain.schemaDdl().map(d => org.apache.spark.sql.types.StructType.fromDDL(d).json)
  def schemaParquet(name: String): Option[String] =
    datasets(name).chain.schemaDdl().map { d =>
      new org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter()
        .convert(org.apache.spark.sql.types.StructType.fromDDL(d))
        .toString
    }
  def schemaArrowJson(name: String): Option[String] =
    datasets(name).chain.schemaDdl().map(d =>
      graft.operators.ArrowCodec.arrowSchema(org.apache.spark.sql.types.StructType.fromDDL(d)).toJson)

  /** Dataset-ref → table resolution (`to_table()` UDTF in the reference,
    * src/infra/datafusion-udf/src/to_table.rs:22-128 — needed there for
    * multi-tenant refs with '/'; here a direct resolver). */
  def toTable(ref: String): DataFrame =
    datasets
      .getOrElse(ref, throw new IllegalArgumentException(s"unknown dataset ref: $ref"))
      .toDF()

  /** REST/GraphQL-style pagination (default limit 100 —
    * adapter/graphql/src/queries/data.rs:22-90). */
  def page(df: DataFrame, skip: Long = 0, limit: Int = 100): DataFrame =
    df.offset(skip.toInt).limit(limit)

  def knownDatasets: Seq[String] = datasets.keys.toSeq.sorted
}

object QueryService {

  /** Open every dataset under a workspace directory and serve queries
    * through a registered DSv2 [[GraftCatalog]] — dataset name = directory
    * name, matching the catalog's `default` namespace layout. */
  def viaCatalog(spark: SparkSession, catalogName: String, rootUri: String): QueryService = {
    GraftCatalog.register(spark, catalogName, rootUri)
    val root = new org.apache.hadoop.fs.Path(rootUri)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hconf)
    val datasets =
      if (!fs.exists(root)) Map.empty[String, Dataset]
      else
        fs.listStatus(root)
          .filter(_.isDirectory)
          .map(_.getPath)
          .filter(p => graft.chain.MetadataChain.exists(p, hconf))
          .map(p => p.getName -> Dataset.open(spark, p.toString))
          .toMap
    new QueryService(spark, datasets, Some(catalogName))
  }
}
