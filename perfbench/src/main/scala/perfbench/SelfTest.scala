package perfbench

import graft.sources.PageParsers

/** Checks of the benchmark's own generators (no Spark session): the
  * same seed yields byte-identical pages and the same catalog statement
  * sequence, another seed does not, and every generated page parses
  * through `PageParsers.parse` to exactly the generator's triples —
  * including Ranker's two leading page-level names and Empire's
  * " (YYYY)" suffix, so a drift in the generator cannot pass for a
  * change in the parser. Exits non-zero on any failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val a = PageGen.generate(7)
    val checks = Seq(
      "pages: same seed, same bytes" ->
        (a.map(_.page) == PageGen.generate(7).map(_.page)),
      "pages: other seed, other bytes" ->
        (a.map(_.page) != PageGen.generate(8).map(_.page)),
      "pages: all three markups" ->
        Seq("www.imdb.com", "www.ranker.com", "www.empireonline.com")
          .forall(h => a.exists(_.page.url.contains(h))),
      "pages parse to the generator's triples" ->
        a.forall(g => PageParsers.parse(g.page) == g.triples),
      "ranker pages carry two leading page-level names" ->
        a.filter(_.page.url.contains("ranker")).forall(g =>
          "itemprop=\"name\"".r.findAllMatchIn(g.page.html).size ==
            g.triples.size + 2),
      "empire titles carry a (YYYY) suffix" ->
        a.filter(_.page.url.contains("empire")).forall(g =>
          """<h2>[^<]* \(\d{4}\)</h2>""".r.findAllMatchIn(g.page.html).size ==
            g.triples.size),
      "catalog: same seed, same statements" -> {
        def seq(seed: Long) = (0 until 3).foldLeft(
            (CatalogGen.BaseRows.toLong, Seq.empty[CatOp])) {
          case ((k, acc), r) =>
            (CatalogGen.nextKeyAfter(k), acc ++ CatalogGen.round(seed, r, k))
        }._2
        seq(7) == seq(7) && seq(7) != seq(8) &&
          CatalogGen.base(7) == CatalogGen.base(7)
      })
    checks.foreach { case (n, ok) =>
      System.err.println(s"[selftest] $n: ${if (ok) "ok" else "FAIL"}")
    }
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
