package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.immutable.TreeMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.Trigger

import graft.sources.KvSnapshots

/** One statement of the kv-catalog workload. */
sealed trait CatOp { def name: String; def commits: Boolean }
object CatOp {
  final case class Insert(rows: Seq[(Long, String)]) extends CatOp {
    def name = "insert"; def commits = true }
  final case class Merge(rows: Seq[(Long, String)]) extends CatOp {
    def name = "merge"; def commits = true }
  final case class Delete(keys: Seq[Long]) extends CatOp {
    def name = "delete"; def commits = true }
  /** Sort-by-key rewrite into few files (`system.cluster`), the explicit
    * compaction of a snapshotted table; small-file compaction also runs
    * on its own after data commits (`write.auto_compact`).
    */
  case object Cluster extends CatOp {
    def name = "cluster"; def commits = true }
  final case class Expire(keepLast: Int) extends CatOp {
    def name = "expire"; def commits = true }
  final case class Point(key: Long) extends CatOp {
    def name = "point"; def commits = false }
  final case class Range(lo: Long, hi: Long) extends CatOp {
    def name = "range"; def commits = false }
  case object Aggregate extends CatOp {
    def name = "aggregate"; def commits = false }
  /** Read the version committed by this round's first statement. */
  case object TimeTravel extends CatOp {
    def name = "time_travel"; def commits = false }
  case object ChangeFeed extends CatOp {
    def name = "changefeed"; def commits = false }
}

/** Seeded statement sequence over a key→value table. Keys of MERGE and
  * DELETE are skewed toward low keys (k = ⌊n·u³⌋), so a few hot keys
  * and the files holding them are rewritten again and again.
  */
object CatalogGen {
  val BaseRows = 20000
  val InsertRows = 400
  val MergeRows = 300
  val DeleteKeys = 30

  def value(r: SplittableRandom): String = {
    val n = 8 + r.nextInt(33)
    val b = new StringBuilder("v")
    for (_ <- 0 until n) b += ('a' + r.nextInt(26)).toChar
    b.toString
  }

  def base(seed: Long): Seq[(Long, String)] = {
    val r = new SplittableRandom(seed)
    (0L until BaseRows).map(k => k -> value(r))
  }

  private def skewed(r: SplittableRandom, n: Long): Long = {
    val u = r.nextDouble()
    (n * u * u * u).toLong
  }

  /** Statements of round `round`; `nextKey` is the first unused key. */
  def round(seed: Long, round: Int, nextKey: Long): Seq[CatOp] = {
    val r = new SplittableRandom(seed * 1000003L + round)
    def fresh(from: Long, n: Int) = (from until from + n).map(k => k -> value(r))
    def hot(n: Int) = Seq.fill(n)(skewed(r, nextKey)).distinct
    val ins1 = fresh(nextKey, InsertRows)
    val merged = (hot(MergeRows - MergeRows / 5) ++
      (nextKey + InsertRows until nextKey + InsertRows + MergeRows / 5))
      .distinct.map(k => k -> value(r))
    val top = nextKey + InsertRows + MergeRows / 5
    val ins2 = fresh(top, InsertRows)
    def point() = CatOp.Point(skewed(r, top + InsertRows))
    def range() = {
      val lo = r.nextLong(top)
      CatOp.Range(lo, lo + 500 + r.nextInt(2000))
    }
    Seq(CatOp.Insert(ins1), point(), point(), CatOp.Merge(merged), range(),
      CatOp.Delete(hot(DeleteKeys)), CatOp.Aggregate, CatOp.Insert(ins2),
      CatOp.TimeTravel, point(), point(), CatOp.Cluster, range(),
      CatOp.ChangeFeed, CatOp.Expire(3))
  }

  /** First unused key after a round's statements. */
  def nextKeyAfter(nextKey: Long): Long =
    nextKey + 2 * InsertRows + MergeRows / 5
}

/** One kv-catalog table under a seeded sequence of commits (appends,
  * MERGE upserts on skewed keys, DELETEs, auto- and explicit
  * compaction, snapshot expiry) interleaved with reads (point lookups,
  * key ranges, whole-table aggregates, time travel, a changefeed
  * drain). An in-memory key→value model checks every read and the final
  * table content; the changefeed's change rows, replayed onto a mirror,
  * must reproduce the model.
  */
final class CatalogRw(seed: Long, work: String, trace: Boolean)
    extends Workload
    with AdaptiveSparkPlanHelper {
  val measuredPasses = 6
  private var table = ""
  private def fq = s"graft_kv.default.$table"
  private def dir: Path = Paths.get(s"$work/kv/default/$table")

  private var model = TreeMap.empty[Long, String]
  private var nextKey = 0L
  private var round = 0
  private val versions = scala.collection.mutable.Map.empty[Int, TreeMap[Long, String]]
  private var roundStartVersion = 0
  private var mirror = TreeMap.empty[Long, String]
  private val mismatches = ArrayBuffer.empty[String]
  private var liveBytes = 0L
  private var tableBytes = 0L

  // Traced runs only.
  private var curPass = 0
  private val seenFiles = scala.collection.mutable.Set.empty[String]
  private val written = ArrayBuffer.empty[(Int, Long)] // (pass, bytes)
  private val userBytes = ArrayBuffer.empty[(Int, Long)]
  private val scans = ArrayBuffer.empty[(Int, Long, Long, Long)] // pass, files, scanned, returned

  /** Auto-compactions (engine counter) fired per warm pass. */
  private val autoCompactions = ArrayBuffer.empty[Int]

  private def latest: Int = KvSnapshots.latest(dir.toString).getOrElse(0)

  def stage(spark: SparkSession, rep: Int): Unit = {
    table = s"bench_$rep"
    spark.sql(s"DROP TABLE IF EXISTS $fq")
    spark.sql(s"CREATE TABLE $fq (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'dml'='mor', " +
      "'write.auto_compact'='4')")
    val base = CatalogGen.base(seed)
    write(spark, "INSERT INTO", base)
    model = TreeMap.from(base)
    nextKey = CatalogGen.BaseRows
    round = 0
    versions.clear()
    versions(latest) = model
    mirror = TreeMap.empty
    mismatches.clear()
    listFiles(pass = -1)
  }

  private def view(spark: SparkSession, rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val v = s"src_${table}_${round}"
    rows.toDF("key", "value").createOrReplaceTempView(v)
    v
  }

  private def write(spark: SparkSession, verb: String,
                    rows: Seq[(Long, String)]): Unit =
    spark.sql(s"$verb $fq SELECT key, value FROM ${view(spark, rows)}")

  private def agg(model: TreeMap[Long, String]): (Long, Long, Long) =
    (model.size.toLong, model.keysIterator.sum,
      model.valuesIterator.map(_.length.toLong).sum)

  private def aggRow(r: Row): (Long, Long, Long) =
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))

  private val AggCols = "count(*), sum(key), sum(length(value))"

  /** Scan files, rows scanned and rows returned of an executed read. */
  private def scanStats(df: DataFrame, returned: Long): Unit = if (trace) {
    val plans = collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b }
    val files = plans.map(_.inputPartitions.size.toLong).sum
    val scanned = plans.flatMap(_.metrics.get("numOutputRows"))
      .map(_.value).sum
    scans += ((curPass, files, scanned, returned))
  }

  private def listFiles(pass: Int): Unit = if (trace) {
    val ws = Files.walk(dir)
    try ws.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      if (seenFiles.add(f.toString)) written += ((pass, Files.size(f)))
    } finally ws.close()
  }

  private def run(spark: SparkSession, op: CatOp): Option[String] = op match {
    case CatOp.Insert(rows) =>
      write(spark, "INSERT INTO", rows); model = model ++ rows; None
    case CatOp.Merge(rows) =>
      val v = view(spark, rows)
      spark.sql(
        s"""MERGE INTO $fq AS t USING $v AS s ON t.key = s.key
           |WHEN MATCHED THEN UPDATE SET value = s.value
           |WHEN NOT MATCHED THEN INSERT (key, value) VALUES (s.key, s.value)
           |""".stripMargin)
      model = model ++ rows; None
    case CatOp.Delete(keys) =>
      spark.sql(s"DELETE FROM $fq WHERE key IN (${keys.mkString(", ")})")
      model = model -- keys; None
    case CatOp.Cluster =>
      spark.sql("CALL graft_kv.system.cluster(" +
        s"table => 'default.$table', target_files => 4)").collect(); None
    case CatOp.Expire(k) =>
      spark.sql("CALL graft_kv.system.expire_snapshots(" +
        s"table => 'default.$table', keep_last => $k)").collect(); None
    case CatOp.Point(k) =>
      val df = spark.sql(s"SELECT value FROM $fq WHERE key = $k")
      val got = df.collect().map(_.getString(0)).toSeq
      scanStats(df, got.size)
      Option.when(got != model.get(k).toSeq)(
        s"point $k: got $got, want ${model.get(k)}")
    case CatOp.Range(lo, hi) =>
      val df = spark.sql(
        s"SELECT $AggCols FROM $fq WHERE key BETWEEN $lo AND $hi")
      val got = aggRow(df.collect().head)
      scanStats(df, 1)
      val want = agg(model.range(lo, hi + 1))
      Option.when(got != want)(s"range [$lo, $hi]: got $got, want $want")
    case CatOp.Aggregate =>
      val df = spark.sql(s"SELECT $AggCols FROM $fq")
      val got = aggRow(df.collect().head)
      scanStats(df, 1)
      Option.when(got != agg(model))(s"aggregate: got $got, want ${agg(model)}")
    case CatOp.TimeTravel =>
      val v = roundStartVersion
      val df = spark.sql(s"SELECT $AggCols FROM $fq VERSION AS OF $v")
      val got = aggRow(df.collect().head)
      scanStats(df, 1)
      val want = agg(versions(v))
      Option.when(got != want)(s"version $v: got $got, want $want")
    case CatOp.ChangeFeed =>
      // foreachBatch, not the memory sink: the drain resumes from its
      // checkpoint every round, which the memory sink refuses.
      val drained = ArrayBuffer.empty[Row]
      val q = spark.readStream.table(s"graft_kv.default.`$table$$changes`")
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          drained ++= df.collect(); () }
        .option("checkpointLocation", s"$work/cf_checkpoint_$table")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = drained.toSeq
      rows.groupBy(_.getInt(3)).toSeq.sortBy(_._1).foreach { case (_, rs) =>
        mirror = mirror -- rs.filter(_.getString(2) == "delete")
          .map(_.getLong(0))
        mirror = mirror ++ rs.filter(_.getString(2) == "insert")
          .map(r => r.getLong(0) -> r.getString(1))
      }
      Option.when(mirror != model)(
        s"changefeed replay differs from the model after round $round")
  }

  def pass(spark: SparkSession, run: Runner): Unit = {
    curPass = run.pass
    val compacted0 = graft.sources.KvAutoCompact.compactions.get()
    val ops = CatalogGen.round(seed, round, nextKey)
    ops.zipWithIndex.foreach { case (op, i) =>
      op match {
        case CatOp.Insert(rows) => userBytes += ((run.pass, bytes(rows)))
        case CatOp.Merge(rows) => userBytes += ((run.pass, bytes(rows)))
        case _ =>
      }
      val kind = if (op.commits) "commit" else "read"
      run.op(op.name, kind)(this.run(spark, op)).foreach { bad =>
        bad.foreach { msg =>
          run.ops.last.mismatch = true
          mismatches += msg
        }
      }
      if (op.commits) {
        versions(latest) = model
        if (i == 0) roundStartVersion = latest
        listFiles(run.pass)
      }
    }
    if (run.pass > 0) autoCompactions +=
      (graft.sources.KvAutoCompact.compactions.get() - compacted0).toInt
    nextKey = CatalogGen.nextKeyAfter(nextKey)
    round += 1
  }

  private def bytes(rows: Seq[(Long, String)]): Long =
    rows.map(8L + _._2.length).sum

  def check(spark: SparkSession, run: Runner): CheckResult = {
    val got = TreeMap.from(spark.sql(s"SELECT key, value FROM $fq").collect()
      .map(r => r.getLong(0) -> r.getString(1)))
    val notes = mismatches.toSeq ++
      Option.when(got != model)("final table content differs from the model")
    liveBytes = bytes(model.toSeq)
    tableBytes = dirBytes
    CheckResult(notes)
  }

  private def dirBytes: Long = {
    val ws = Files.walk(dir)
    try ws.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally ws.close()
  }

  def layers(spark: SparkSession, run: Runner, tracer: Tracer)
      : Map[String, Double] = {
    val warm = run.warm
    val nWarm = math.max(1, run.pass - 1).toDouble
    def secs(n: String) = warm.filter(_.name == n).map(_.seconds).sum / nWarm
    val commits = warm.filter(_.kind == "commit")
    val reads = warm.filter(_.kind == "read")
    val warmScans = scans.filter(_._1 > 0)
    val warmWritten = written.filter(_._1 > 0).map(_._2)
    val warmUser = userBytes.filter(_._1 > 0).map(_._2).sum.toDouble
    val v = latest
    Map(
      "kv.insert_s" -> secs("insert"), "kv.merge_s" -> secs("merge"),
      "kv.delete_s" -> secs("delete"), "kv.compact_s" -> secs("cluster"),
      "kv.auto_compactions" -> autoCompactions.sum / nWarm,
      "kv.expire_s" -> secs("expire"), "kv.changefeed_s" -> secs("changefeed"),
      "kv.commit_jobs" ->
        tracer.jobsIn(commits.map(o => (o.startMs, o.endMs))) / nWarm,
      "kv.commit_p50_ms" -> Stats.median(commits.map(_.seconds * 1e3)),
      "kv.read_p50_ms" -> Stats.median(reads.map(_.seconds * 1e3)),
      "kv.files_written" -> warmWritten.size / nWarm,
      "kv.bytes_written_per_user_byte" ->
        (if (warmUser > 0) warmWritten.sum / warmUser else 0.0),
      "kv.files_read_per_read" ->
        (if (warmScans.isEmpty) 0.0
         else warmScans.map(_._2).sum.toDouble / warmScans.size),
      "kv.rows_scanned_per_row_returned" ->
        (if (warmScans.isEmpty) 0.0
         else warmScans.map(_._3).sum.toDouble /
           math.max(1L, warmScans.map(_._4).sum)),
      "kv.live_files" -> KvSnapshots.dataFiles(
        KvSnapshots.membersWithStats(dir.toString, v)).size.toDouble,
      "kv.snapshots" -> KvSnapshots.versions(dir.toString).size.toDouble,
      "kv.bytes_per_live_byte" ->
        tableBytes.toDouble / math.max(1L, liveBytes))
  }
}
