package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** The registry queries each registry workload runs, in this order. */
object Registry {
  /** A few queries, each standing for a mechanism the workload is meant
    * to stress, so that a run (a cold pass and a few warm ones) fits the
    * benchmark's time budget; README.md lists the queries left out.
    */
  val Curation: Seq[String] = Seq(
    "dedup_exact", "minhash_signatures", "bpe_train_merges", "hits_scores")

  val Streaming: Seq[String] = Seq("sessionize_stateful", "flagship_stream")
}

/** Registry queries run through the driver contract: each operation is
  * `SparkEntry.queries(name)(spark, dir)` followed by collecting the
  * whole result (every column materialized; results are small). The
  * first pass runs in a fresh session (cold `SessionMemo` frames, first
  * codegen); later passes are warm. Streaming gates run their
  * micro-batches inside the builder call.
  */
final class RegistryWorkload(tables: String, work: String, names: Seq[String],
                             kind: String, val measuredPasses: Int)
    extends Workload {
  /** (pass, start ms, end ms, seconds) of each DataFrame construction. */
  private val builds = ArrayBuffer.empty[(Int, Long, Long, Double)]
  /** Latest result (schema, rows) of each query. */
  private val results =
    scala.collection.mutable.Map.empty[String, (StructType, Seq[Row])]

  def stage(spark: SparkSession, rep: Int): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unregistered queries: ${unknown.mkString(", ")}")
    val noOracle = names.filterNot(SparkEntry.oracleSql.contains)
    require(noOracle.isEmpty, s"queries without oracle SQL: ${noOracle.mkString(", ")}")
  }

  def pass(spark: SparkSession, run: Runner): Unit = names.foreach { n =>
    run.op(n, kind) {
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, tables)
      builds += ((run.pass, s, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9))
      (df.schema, df.collect().toSeq)
    }.foreach { got =>
      // Every pass must return what the previous one did; the last
      // result then goes to the DuckDB oracle.
      if (results.get(n).exists(_._2 != got._2)) run.ops.last.mismatch = true
      results(n) = got
    }
  }

  /** Writes each query's last result (untimed) as one parquet file for
    * run.py's DuckDB oracle compare.
    */
  def check(spark: SparkSession, run: Runner): CheckResult = {
    import scala.jdk.CollectionConverters._
    val notes = run.ops.filter(_.mismatch).map(o =>
      s"${o.name} (pass ${o.pass}) returned a different result").toSeq
    val written = names.filter(results.contains)
    written.foreach { n =>
      val (schema, rows) = results(n)
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write
        .mode("overwrite").parquet(s"$work/results/$n")
    }
    CheckResult(notes, written.map(n => n -> SparkEntry.oracleSql(n)))
  }

  def layers(spark: SparkSession, run: Runner, tracer: Tracer)
      : Map[String, Double] = {
    val nWarm = math.max(1, run.pass - 1).toDouble
    val warmBuilds = builds.filter(_._1 > 0)
    val cold = run.ops.filter(_.pass == 0).map(o => o.name -> o.seconds).toMap
    val warm = run.warm.groupBy(_.name).map { case (n, os) =>
      n -> Stats.median(os.map(_.seconds)) }
    Map(
      "operators.build_s" -> warmBuilds.map(_._4).sum / nWarm,
      "operators.build_jobs" ->
        tracer.jobsIn(warmBuilds.map(b => (b._2, b._3)).toSeq) / nWarm,
      "operators.memo_cold_s" -> cold.map { case (n, c) =>
        math.max(0.0, c - warm.getOrElse(n, c)) }.sum)
  }
}
