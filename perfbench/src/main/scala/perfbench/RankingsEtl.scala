package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max, xxhash64}

import graft.operators.Canonical
import graft.sources.{Page, PageParsers, RawRanking}

/** Seeded chart pages in the three site markups the engine parses, with
  * the `(url, rank, title)` triples each page must parse to.
  *
  * Every page lists `Entries` titles. A core set of titles sits once on
  * every page, so it passes the coverage filter; a few "double" titles
  * sit twice on one page and miss another, which the row-count coverage
  * rule also passes; the rest are fillers drawn from a large pool. The
  * same title is spelled differently per page (case, punctuation,
  * doubled spaces) and canonicalizes to one form. IMDB pages carry some
  * non-numeric ranks, which the query layer maps to 0.
  */
object PageGen {
  val PagesPerSite = 4
  val Entries = 4000

  final case class Generated(page: Page, triples: Seq[RawRanking])

  private val Words = Seq("river", "night", "city", "ghost", "empire",
    "dream", "storm", "shadow", "crown", "garden", "winter", "signal",
    "harbor", "mirror", "engine", "forest", "silver", "desert", "echo",
    "lantern", "orbit", "canyon", "velvet", "thunder", "island", "cipher",
    "falcon", "meadow", "glacier", "station", "paper", "copper", "ember",
    "tower", "voyage", "midnight", "circus", "atlas", "harvest", "comet")

  private def site(i: Int): String = Seq(
    s"https://www.imdb.com/chart/top?page=$i",
    s"https://www.ranker.com/crowdranked-list/the-best-movies-of-all-time?page=$i",
    s"https://www.empireonline.com/movies/features/best-movies/?page=$i")(
    i % 3)

  /** A title of 2–4 words, with a numeric suffix so pools stay distinct. */
  private def baseTitle(r: SplittableRandom, id: Int): String = {
    val n = 2 + r.nextInt(3)
    (Seq.fill(n)(Words(r.nextInt(Words.size))) :+ id.toString).mkString(" ")
  }

  /** One spelling of a base title: capitalization, and punctuation or a
    * doubled space that canonicalization removes again. Never leading or
    * trailing whitespace, never a bare year suffix.
    */
  private def spell(r: SplittableRandom, base: String): String = {
    val ws = base.split(" ").toSeq.map { w =>
      r.nextInt(4) match {
        case 0 => w.capitalize
        case 1 => w.toUpperCase
        case _ => w
      }
    }
    val seps = Seq(" ", " ", " ", "  ", ": ", " - ", "'s ", ", ")
    ws.tail.foldLeft(ws.head) { (acc, w) =>
      acc + seps(r.nextInt(seps.size)) + w
    } + (if (r.nextInt(5) == 0) "!" else "")
  }

  def generate(seed: Long): Seq[Generated] = {
    val r = new SplittableRandom(seed)
    val nPages = 3 * PagesPerSite
    val entries = Entries
    val core = (0 until entries / 2).map(i => baseTitle(r, i))
    val doubles = core.take(entries / 200)
    val pool = (0 until entries * nPages / 4)
      .map(i => baseTitle(r, 1000000 + i))
    (0 until nPages).map { p =>
      // A "double" title is listed twice on page (k % nPages) and is
      // missing from page ((k + 1) % nPages): still nPages rows.
      val listed = core.zipWithIndex.flatMap { case (t, k) =>
        val isDouble = k < doubles.size
        if (isDouble && (k + 1) % nPages == p) Nil
        else if (isDouble && k % nPages == p) Seq(t, t)
        else Seq(t)
      }
      val fillers = Seq.fill(entries - listed.size)(pool(r.nextInt(pool.size)))
      val order = shuffle(r, listed ++ fillers)
      val url = site(p)
      val triples = order.zipWithIndex.map { case (t, i) =>
        val rank =
          if (p % 3 == 0 && r.nextInt(100) == 0) "NR" else (i + 1).toString
        RawRanking(url, rank, spell(r, t))
      }
      Generated(Page(url, render(r, p % 3, triples)), triples)
    }
  }

  private def shuffle[T](r: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  private def year(r: SplittableRandom): Int = 1920 + r.nextInt(100)

  private def render(r: SplittableRandom, kind: Int,
                     ts: Seq[RawRanking]): String = {
    val b = new StringBuilder("<!DOCTYPE html>\n<html>\n")
    kind match {
      case 0 =>
        b ++= "<head><title>Top Rated Movies</title></head>\n<body>\n"
        b ++= "<table class=\"chart\">\n<tbody>\n"
        ts.zipWithIndex.foreach { case (t, i) =>
          val pad = " " * r.nextInt(3)
          b ++= "<tr><td class=\"titleColumn\">\n      " + t.rank +
            ".\n      <a href=\"/title/tt" + (1000000 + i) + "/\">" +
            t.title + pad + "</a>\n      <span class=\"secondaryInfo\">(" +
            year(r) + ")</span>\n</td></tr>\n"
        }
        b ++= "</tbody>\n</table>\n"
      case 1 =>
        // The two leading page-level names are dropped by the parser.
        b ++= "<head>\n<meta itemprop=\"name\" content=\"The Best " +
          "Movies of All Time\">\n<meta itemprop=\"name\" content=" +
          "\"Ranker Crowd Lists\">\n</head>\n<body>\n<div class=\"list\">\n"
        ts.foreach { t =>
          val name =
            if (r.nextBoolean()) s"${t.title} (${year(r)})" else t.title
          b ++= "<div class=\"item\"><meta itemprop=\"position\" content=\"" +
            t.rank + "\"><meta itemprop=\"name\" content=\"" + name +
            "\"></div>\n"
        }
        b ++= "</div>\n"
      case _ =>
        // Empire strips a fixed-width " (YYYY)" suffix: always present.
        b ++= "<head><title>The Best Movies</title></head>\n<body>\n" +
          "<div class=\"listicle\">\n"
        ts.foreach { t =>
          b ++= s"<h2>${t.rank}. ${t.title} (${year(r)})</h2>\n" +
            "<p>A short blurb about the film.</p>\n"
        }
        b ++= "</div>\n"
    }
    b ++= "</body>\n</html>\n"
    b.toString
  }
}

/** Plain-Scala statement of the reports, from the generator's triples:
  * non-numeric rank → 0, the canonical-title rule, coverage by ROW
  * count (the reference's wart), then both top-10 reports.
  */
object RankingsReference {
  def canonical(t: String): String =
    t.replaceAll("[^a-zA-Z0-9 ]", "").replaceAll("\\s{2,}", " ").toLowerCase

  def rank(s: String): Int = s.toIntOption.getOrElse(0)

  /** (bySum: (title_comp, rank_sum, rank_avg), byMean: (title_comp,
    * rank_avg)) — the top 10 of each, ties broken by title.
    */
  def reports(triples: Seq[RawRanking], n: Int)
      : (Seq[(String, Long, Double)], Seq[(String, Double)]) = {
    val groups = triples.groupBy(t => canonical(t.title))
      .filter(_._2.size == n)
      .map { case (k, ts) =>
        val s = ts.map(t => rank(t.rank).toLong).sum
        (k, s, s.toDouble / ts.size)
      }.toSeq
    val bySum = groups.sortBy(g => (g._2, g._1)).take(10)
    val byMean = groups.map(g => (g._1, g._3))
      .sortBy(g => (g._2, g._1)).take(10)
    (bySum, byMean)
  }
}

/** The paper's pipeline at scale: pages → `PageParsers.parse` →
  * `Canonical.safeRank`/`canonicalizeTitle` → `fullCoverage` →
  * `rankReports` → the two top-10 reports, each collected.
  */
final class RankingsEtl(seed: Long) extends Workload {
  val measuredPasses = 12
  private var gen: Seq[PageGen.Generated] = Nil
  private def pages = gen.map(_.page)
  private def nPages = gen.size
  private val results =
    scala.collection.mutable.ArrayBuffer.empty[(Op, Seq[Row])]

  def stage(spark: SparkSession, rep: Int): Unit = {
    gen = PageGen.generate(seed)
  }

  private def raw(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(pages, nPages))
      .flatMap(PageParsers.parse _).toDF()
  }

  private def covered(spark: SparkSession): DataFrame =
    Canonical.fullCoverage(
      raw(spark)
        .withColumn("rank_int", Canonical.safeRank(col("rank")))
        .withColumn("title_comp", Canonical.canonicalizeTitle(col("title"))),
      nPages, "title_comp")

  private def reports(spark: SparkSession): DataFrame =
    Canonical.rankReports(covered(spark), "title_comp", "rank_int")

  private def bySum(spark: SparkSession): DataFrame =
    reports(spark).orderBy(col("rank_sum").asc, col("title_comp").asc)
      .limit(10)

  private def byMean(spark: SparkSession): DataFrame =
    reports(spark).select(col("title_comp"), col("rank_avg"))
      .orderBy(col("rank_avg").asc, col("title_comp").asc).limit(10)

  def pass(spark: SparkSession, run: Runner): Unit = {
    for ((name, q) <- Seq[(String, SparkSession => DataFrame)](
        "report_by_sum" -> bySum, "report_by_mean" -> byMean)) {
      run.op(name, "report")(q(spark).collect().toSeq)
        .foreach(rows => results += ((run.ops.last, rows)))
    }
  }

  def check(spark: SparkSession, run: Runner): CheckResult = {
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    // The generator and the parser must agree, or a drift in either
    // would pass for a change in the other.
    gen.foreach { g =>
      if (PageParsers.parse(g.page) != g.triples)
        notes += s"generated page ${g.page.url} does not parse to its triples"
    }
    val (wantSum, wantMean) =
      RankingsReference.reports(gen.flatMap(_.triples), nPages)
    results.foreach { case (op, rows) =>
      val ok = op.name match {
        case "report_by_sum" => rows.map(r =>
          (r.getString(0), r.getLong(1), r.getDouble(2))) == wantSum
        case _ => rows.map(r => (r.getString(0), r.getDouble(1))) == wantMean
      }
      if (!ok) {
        op.mismatch = true
        notes += s"${op.name} (pass ${op.pass}) differs from the reference"
      }
    }
    CheckResult(notes.toSeq.distinct)
  }

  def layers(spark: SparkSession, run: Runner, tracer: Tracer)
      : Map[String, Double] = {
    // Self time of each layer by subtraction: run the pipeline cut after
    // parsing, cut after coverage, and whole (one report). Each cut ends
    // in a one-row aggregate over a hash of every column, so every
    // column is computed and no cut pays for writing a large output.
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.collect()
      (System.nanoTime() - t0) / 1e9
    }
    def hashed(df: DataFrame): DataFrame =
      df.agg(max(xxhash64(df.columns.map(col).toSeq: _*)))
    def best(f: => Double): Double = Seq.fill(3)(f).min
    val parse = best(time(hashed(raw(spark))))
    val cover = best(time(hashed(covered(spark))))
    val report = best(time(bySum(spark)))
    Map(
      "sources.parse_s" -> parse,
      "sources.html_bytes" -> pages.map(_.html.length.toDouble).sum,
      "sources.rows_parsed" -> gen.map(_.triples.size.toDouble).sum,
      "operators.canon_coverage_s" -> math.max(0.0, cover - parse),
      "operators.report_s" -> math.max(0.0, report - cover))
  }
}
