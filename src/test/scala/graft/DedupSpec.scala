package graft

import org.apache.spark.sql.functions._
import graft.dedup.{ExactDedup, MinHash, ParagraphDedup, SimHash}

class DedupSpec extends SparkSuiteBase {
  import spark.implicits._

  test("exact dedup: keep-first by order, losers point at winner") {
    val df = Seq(
      ("u1", "same content"), ("u2", "same content"), ("u3", "other content"),
      ("u4", "same content")).toDF("url", "text")
    val ann = ExactDedup.annotate(df, md5(col("text").cast("binary")), col("url"))
      .orderBy("url").collect()
    assert(ann.map(r => (r.getAs[String]("url"), r.getAs[Boolean]("is_duplicate"), r.getAs[String]("duplicate_of"))).toSeq ==
      Seq(("u1", false, "u1"), ("u2", true, "u1"), ("u3", false, "u3"), ("u4", true, "u1")))
    val kept = ExactDedup.keepFirst(df, md5(col("text").cast("binary")), col("url"))
    assert(kept.select("url").as[String].collect().sorted.toSeq == Seq("u1", "u3"))
  }

  test("MinHash estimate tracks exact Jaccard within epsilon") {
    val a = corpus.PageGen.prose(7, 1, 300, 1)
    // mutate ~10% of words
    val words = a.split(" ")
    val b = words.zipWithIndex.map { case (w, i) => if (i % 10 == 0) w + "x" else w }.mkString(" ")
    val exact = MinHash.jaccard(MinHash.shingles(a), MinHash.shingles(b))
    val est = MinHash.estJaccard(MinHash.signature(a), MinHash.signature(b))
    assert(math.abs(exact - est) < 0.15, s"exact=$exact est=$est")
    // identical text → estimate 1.0
    assert(MinHash.estJaccard(MinHash.signature(a), MinHash.signature(a)) == 1.0)
  }

  test("MinHash-LSH finds planted near-dup pairs and skips unrelated docs") {
    val base = (0 until 30).map(i => (s"d$i", corpus.PageGen.prose(11, i.toLong, 120, i)))
    val nearDups = Seq(("n0", base(0)._2 + " tail marker"), ("n5", base(5)._2 + " extra end"))
    val df = (base ++ nearDups).toDF("id", "text")
    val pairs = MinHash.nearDupPairs(df, "id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(pairs.contains(("d0", "n0")))
    assert(pairs.contains(("d5", "n5")))
    // unrelated random-prose docs don't collide at 0.8
    assert(pairs.forall { case (x, y) => Set(("d0", "n0"), ("d5", "n5")).contains((x, y)) }, pairs.toString)
  }

  test("dropNearDups removes the planted copies only") {
    val base = (0 until 20).map(i => (s"d$i", corpus.PageGen.prose(13, i.toLong, 100, i)))
    val withDup = base ++ Seq(("z9", base(3)._2 + " appended"))
    val out = MinHash.dropNearDups(withDup.toDF("id", "text"), "id", "text", 0.8)
      .select("id").as[String].collect().toSet
    assert(out == base.map(_._1).toSet)
  }

  test("SimHash: identical text distance 0; small edit small distance; unrelated far") {
    val a = corpus.PageGen.prose(17, 1, 200, 1)
    val words = a.split(" ")
    val b = words.updated(5, "changedword").mkString(" ")
    val c = corpus.PageGen.prose(17, 2, 200, 99)
    assert(SimHash.hamming(SimHash.simhash(a), SimHash.simhash(a)) == 0)
    assert(SimHash.hamming(SimHash.simhash(a), SimHash.simhash(b)) <= 8)
    assert(SimHash.hamming(SimHash.simhash(a), SimHash.simhash(c)) > 8)
  }

  test("SimHash pair join finds the exact-dup pair") {
    val docs = (0 until 15).map(i => (s"d$i", corpus.PageGen.prose(19, i.toLong, 80, i))) :+
      (("dup", corpus.PageGen.prose(19, 3L, 80, 3)))
    val pairs = SimHash.nearDupPairs(docs.toDF("id", "text"), "id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(pairs.contains(("d3", "dup")))
  }

  test("paragraph dedup: keep-first across docs, within-doc repeats, all-boilerplate and empty docs") {
    val docs = Seq(
      ("a", "own text of a\n\nshared footer"),
      ("b", "own text of b\n\nshared footer\n\nown text of b"), // within-doc repeat
      ("c", "shared footer"),                                   // pure boilerplate
      ("d", ""),                                                 // empty
      ("e", "own text of a")                                     // repeats a's paragraph
    ).toDF("id", "text")
    val out = ParagraphDedup.clean(docs, "id", "text")
      .as[(String, String)].collect().toMap
    assert(out == Map(
      "a" -> "own text of a\n\nshared footer",
      "b" -> "own text of b",  // footer seen in a; own second copy seen at idx 0
      "c" -> "",               // lineage row survives with empty text
      "d" -> "",
      "e" -> ""))
  }

  test("jaccardSorted over distinctSorted arrays == jaccard (bit-for-bit)") {
    // the verify path's precomputed-array form must reproduce the toSet
    // form exactly — same intersection/union integers, same Double quotient
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val a = Array.fill(rnd.nextInt(40))(rnd.nextInt(20).toLong - 10)
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(20).toLong - 10)
      val expect = MinHash.jaccard(a, b)
      val got = MinHash.jaccardSorted(
        MinHash.distinctSorted(a.clone()), MinHash.distinctSorted(b.clone()))
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(expect), s"${a.toSeq} vs ${b.toSeq}")
    }
    // corner cases: both empty (1.0), one empty (0.0), negative-range hashes
    assert(MinHash.jaccardSorted(Array.empty, Array.empty) == 1.0)
    assert(MinHash.jaccardSorted(MinHash.distinctSorted(Array(Long.MinValue, Long.MaxValue)),
      Array.empty) == 0.0)
    assert(MinHash.distinctSorted(Array(3L, 1L, 3L, 2L, 1L)).toSeq == Seq(1L, 2L, 3L))
  }

  test("distinctSorted leaves the caller's array untouched") {
    val in = Array(3L, 1L, 3L, 2L, 1L)
    assert(MinHash.distinctSorted(in).toSeq == Seq(1L, 2L, 3L))
    assert(in.toSeq == Seq(3L, 1L, 3L, 2L, 1L))
    val distinct = Array(5L, 4L)
    assert(MinHash.distinctSorted(distinct).toSeq == Seq(4L, 5L))
    assert(distinct.toSeq == Seq(5L, 4L))
  }

  test("repetition ratios: closed-form corner cases") {
    import graft.text.TextAnalysis.repetitionRatios
    assert(repetitionRatios("") == ((0.0, 0.0, 0.0)))
    // six identical tokens on two identical lines: both lines dup (1/2),
    // 5-grams "a a a a a" x2 -> 0.5 dup, top word frac 1.0
    assert(repetitionRatios("a a a\na a a") == ((0.5, 0.5, 1.0)))
    // all-distinct text: nothing repeated
    val (dl, d5, tw) = repetitionRatios("one two three four five six")
    assert(dl == 0.0 && d5 == 0.0 && math.abs(tw - 1.0 / 6) < 1e-12)
  }
}
