package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are pure in their seed. */
class CorpusSpec extends AnyFunSuite {

  private def crawl(seed: Long) =
    Corpus.digest(Corpus.crawlIndexes(seed, 60).iterator.map(graft.corpus.PageGen.row(seed, _)))
  private def pdf(seed: Long) = {
    val g = Corpus.giants(seed, 400)
    Corpus.digest(Corpus.pdfIndexes(seed, 400).iterator.map(i => Corpus.pdfRow(seed, i, g(i))))
  }
  private def delta(seed: Long) = {
    val base = Corpus.crawlIndexes(seed, 100)
    Corpus.digest(Corpus.deltaIndexes(base).iterator.map(Corpus.deltaRow(seed, base.last, _)))
  }

  test("the same seed gives the same corpus digest, another seed another one") {
    for ((name, gen) <- Seq[(String, Long => String)]("crawl" -> crawl, "pdf" -> pdf, "delta" -> delta)) {
      assert(gen(7) == gen(7), name)
      assert(gen(7) != gen(8), name)
    }
  }

  test("the crawl corpus has PageGen's mix exactly") {
    val idx = Corpus.crawlIndexes(4, 200)
    assert(idx.distinct.length == 200 && idx.sameElements(idx.sorted))
    val counts = idx.groupBy(graft.corpus.PageGen.archetype(4, _)).map { case (a, xs) => a -> xs.length }
    assert(counts == Corpus.Mix.map { case (a, p) => a -> 2 * p }.toMap)
  }

  test("the pdf corpus is PDF-only with one giant in 200, 50x a regular PDF") {
    val seed = 3L
    val idx = Corpus.pdfIndexes(seed, 600)
    assert(idx.forall(Corpus.isPdf(seed, _)))
    val giants = Corpus.giants(seed, 600)
    assert(giants.size == 3 && giants.subsetOf(idx.toSet))
    val g = giants.min
    assert(Corpus.pdfRow(seed, g, giant = true).html.length > 20 * graft.corpus.PageGen.row(seed, g).html.length)
    assert(Corpus.pdfExpectedText(seed, g, giant = true).exists(_.length > 300000))
  }

  test("the delta re-crawls about 5% of urls and adds 1% new ones") {
    val seed = 5L
    val base = Corpus.crawlIndexes(seed, 2000)
    val recrawled = base.count(Corpus.isRecrawled(seed, _))
    assert(recrawled > 2000 * 3 / 100 && recrawled < 2000 * 7 / 100, recrawled)
    assert(Corpus.changedPages(seed, base) == recrawled + 20)
    val delta = Corpus.deltaIndexes(base)
    assert(delta.length == 2020 && delta.distinct.length == 2020)
    val changed = base.find(Corpus.isRecrawled(seed, _)).get
    assert(Corpus.deltaRow(seed, base.last, changed).url == graft.corpus.PageGen.url(changed))
    assert(!Corpus.deltaRow(seed, base.last, changed).html.sameElements(graft.corpus.PageGen.row(seed, changed).html))
  }

  test("queries are pure in the seed and half of them use rare terms") {
    val q = Queries.list(9, 10)
    assert(q == Queries.list(9, 10))
    val rare = Queries.rareTerms(9).toSet
    assert(rare.nonEmpty)
    assert(q.zipWithIndex.forall { case (s, i) => s.split(" ").forall(rare) == (i % 2 == 1) })
  }
}
