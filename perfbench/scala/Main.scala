package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/**
 * JVM side of the lifecycle benchmark. Runs one workload against the
 * system's public API, records every op (and, when traced, every Spark job,
 * stage and Catalyst phase), and writes one JSON report. All statistics,
 * the DuckDB oracle checks and the final metric line are computed by
 * `run.py` from that report.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --cpus <n> --work <dir> --out <report.json>
 */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val runSeconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val cpus = opt.getOrElse("cpus", "4").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out"))
    Files.createDirectories(work)

    val spark = session(cpus, work)
    val sessionReady = System.currentTimeMillis()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val ctx = Ctx(spark, seed, cpus, work)
    val w: Workload = workload match {
      case "commit_small"  => new CommitSmall(ctx)
      case "pipeline_bulk" => new PipelineBulk(ctx)
      case "query_mixed"   => new QueryMixed(ctx)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, each step once: seeded inputs, the workload's warm-up (so the
    // measured phase runs compiled code), then the fixture the measured
    // phase works on. setup_s is their sum plus the session start.
    val prepare = seconds(w.prepare())
    val warm = seconds(w.warmUp())
    val fixture = seconds(w.buildFixture(1))
    spark.catalog.clearCache()

    val iterations = w.iterations(runSeconds)
    val untraced = new Recorder(spark, traced = false)
    val heap = new HeapWatch
    val untracedWall = seconds(w.run(untraced, iterations))
    heap.stop()
    // the one forced collection of the run, after the measured phase
    val heapLiveMb = HeapWatch.liveMbAfterFullGc()
    val failures = w.check(untraced)
    val oracle = w.oracleInputs(untraced)
    val summary = w.summary(untraced)

    // The traced pass repeats the measured phase on a fresh fixture with the
    // listeners on, followed by one more untraced pass; the traced wall
    // against the mean of the two untraced walls (which bracket it, so JIT
    // warming over the run cancels) is the tracing overhead.
    val tracedPart: Map[String, Any] = if (!traced) Map.empty else {
      def pass(rec: Recorder, fixture: Int): Double = {
        w.buildFixture(fixture)
        spark.catalog.clearCache()
        seconds(w.run(rec, iterations))
      }
      val rec = new Recorder(spark, traced = true)
      val wall = pass(rec, 2)
      rec.drain()
      rec.close()
      val after = pass(new Recorder(spark, traced = false), 3)
      Map("traced" -> (rec.toJson ++ Map("wall_s" -> wall, "untraced_after_wall_s" -> after)))
    }

    val report = Map(
      "workload" -> workload,
      "seed" -> seed,
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "session_s" -> (sessionReady - jvmStart) / 1e3,
      "prepare_s" -> prepare,
      "warmup_s" -> warm,
      "fixture_s" -> fixture,
      "heap_peak_mb" -> math.max(heap.peakMb, heapLiveMb),
      "heap_live_mb" -> heapLiveMb,
      "untraced" -> (untraced.toJson ++ Map("wall_s" -> untracedWall)),
      "iterations" -> iterations,
      "summary" -> summary,
      "checks" -> oracle,
      "failures" -> failures
    ) ++ tracedPart
    Files.write(out, J(report).getBytes(StandardCharsets.UTF_8))
    w.close()
    spark.stop()
  }

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `local[cpus]` with shuffle partitions = cpus; every scratch directory
    * Spark or the JDK would use lives under `work`. */
  def session(cpus: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = graft.SessionDefaults.tuned(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

final case class Ctx(spark: SparkSession, seed: Long, cpus: Int, work: Path) {
  def dir(parts: String*): Path = {
    val p = parts.foldLeft(work)(_ resolve _)
    Files.createDirectories(p)
    p
  }
}

/** One benchmark workload. The work of a run is fixed by `--seconds`:
  * `iterations` turns it into a count of loop iterations (commits, requests,
  * passes), calibrated so a run measures about that long on a 4-core host. */
trait Workload {
  /** Generate the seeded inputs (once per run). */
  def prepare(): Unit = ()
  /** Exercise the measured calls on throwaway data before the fixture is
    * built, so the JVM's first calls are paid in set-up. */
  def warmUp(): Unit = ()
  /** Build fixture `n` (1 for the measured phase, 2 and 3 for the traced
    * run's passes) and make it the one `run` works on. */
  def buildFixture(n: Int): Unit
  def iterations(seconds: Double): Int
  def run(rec: Recorder, iterations: Int): Unit
  /** Failed correctness checks, one line each. */
  def check(rec: Recorder): Seq[String]
  /** Values the Python side needs for oracle checks. */
  def oracleInputs(rec: Recorder): Map[String, Any] = Map.empty
  /** Workload-level facts beyond the ops (input bytes, final sizes, ...). */
  def summary(rec: Recorder): Map[String, Any] = Map.empty
  def close(): Unit = ()
}
