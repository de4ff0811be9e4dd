package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Command line of the JVM side of the benchmark (see run.py, which
  * builds the engine, generates the parquet tables and checks results
  * against DuckDB).
  */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, tables: String, out: String, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("tables"), need("out"),
      need("cores").toInt)
  }
}

/** One timed operation of the closed loop. `mismatch` is set by the
  * workload's correctness check, which runs after the timed region.
  */
final class Op(val pass: Int, val name: String, val kind: String,
               val startMs: Long, val endMs: Long, val seconds: Double,
               val error: Option[String]) {
  var mismatch: Boolean = false
  def failed: Boolean = error.isDefined || mismatch
}

/** Runs and records the timed operations of one benchmark run. */
final class Runner {
  val ops = ArrayBuffer.empty[Op]
  val passSeconds = ArrayBuffer.empty[Double]
  var pass = 0

  def op[T](name: String, kind: String)(body: => T): Option[T] = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(body)
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        Left(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          .take(300))
      }
    val secs = (System.nanoTime() - t0) / 1e9
    ops += new Op(pass, name, kind, startMs, System.currentTimeMillis(),
      secs, result.left.toOption)
    result.toOption
  }

  /** Ops of the warm passes (every pass after the first). */
  def warm: Seq[Op] = ops.toSeq.filter(_.pass > 0)
}

/** A benchmark workload: set-up (repeatable), one pass of the closed
  * loop, the correctness check, and per-layer figures of its own.
  */
trait Workload {
  /** Warm passes whose median is the run's `pass_s`: passes 1 to K,
    * whatever the machine's speed, so a slower run does not also
    * change which passes (earlier, less warm ones) the median sees. A
    * run makes at least this many warm passes.
    */
  def measuredPasses: Int
  /** Build the workload's inputs and state; called several times so the
    * set-up time is a median. Only the last call's state is used.
    */
  def stage(spark: SparkSession, rep: Int): Unit
  def pass(spark: SparkSession, run: Runner): Unit
  /** Compare outputs with a computation made apart from the engine.
    * Marks mismatching ops; returns notes (empty when all is well) and
    * queries left for the DuckDB oracle check in run.py.
    */
  def check(spark: SparkSession, run: Runner): CheckResult
  /** Workload-specific per-layer figures (traced runs only). */
  def layers(spark: SparkSession, run: Runner, tracer: Tracer)
      : Map[String, Double]
}

final case class CheckResult(
    notes: Seq[String], oracle: Seq[(String, String)] = Nil)

object Main {
  val Stagings = 3

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.catalog.graft_kv",
        classOf[graft.sources.KvCatalog].getName)
      .config("spark.sql.catalog.graft_kv.warehouse", s"${a.work}/kv")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(a: Args): Workload = a.workload match {
    case "rankings_etl" => new RankingsEtl(a.seed)
    case "curation" =>
      new RegistryWorkload(a.tables, a.work, Registry.Curation, "query", 3)
    case "streaming" =>
      new RegistryWorkload(a.tables, a.work, Registry.Streaming, "gate", 3)
    case "catalog_rw" => new CatalogRw(a.seed, a.work, a.trace)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a)
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val wl = workload(a)
    val stagings = (0 until Stagings).map { i =>
      val t0 = System.nanoTime()
      wl.stage(spark, i)
      (System.nanoTime() - t0) / 1e9
    }

    val run = new Runner
    tracer.foreach(_.passEnd())
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (run.pass <= wl.measuredPasses || elapsed < a.seconds) {
      val p0 = System.nanoTime()
      wl.pass(spark, run)
      run.passSeconds += (System.nanoTime() - p0) / 1e9
      tracer.foreach(_.passEnd())
      run.pass += 1
    }
    val timedSeconds = elapsed

    val c0 = System.nanoTime()
    val checked = wl.check(spark, run)
    System.err.println(f"[perfbench] check ${(System.nanoTime() - c0) / 1e9}%.1f s")
    val layers = tracer.map { t =>
      t.layers(run) ++ wl.layers(spark, run, t) }.getOrElse(Map.empty)

    val out = Map(
      "session_ready_ms" -> sessionReadyMs,
      "staging_s" -> stagings,
      "timed_s" -> timedSeconds,
      "pass_s" -> run.passSeconds.toSeq,
      "measured_passes" -> wl.measuredPasses,
      "ops" -> run.ops.toSeq.map(o => Map(
        "pass" -> o.pass, "name" -> o.name, "kind" -> o.kind,
        "s" -> o.seconds, "error" -> o.error.getOrElse(""),
        "mismatch" -> o.mismatch)),
      "notes" -> checked.notes,
      "oracle" -> checked.oracle.map { case (n, sql) =>
        Map("name" -> n, "sql" -> sql) },
      "peak_rss_mb" -> vmHwmMb(),
      "layers" -> layers)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(a.out), out)
    spark.stop()
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}
