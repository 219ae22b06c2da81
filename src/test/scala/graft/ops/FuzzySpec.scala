package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Exactness pins for [[Fuzzy.editDistancePairs]]: the filter–verify
  * plan must equal brute force on hand cases (including the short
  * bucket the count filter cannot reach), with the hot-gram valve on
  * and off, and on seeded random corpora.
  */
class FuzzySpec extends SparkSpec {
  import spark.implicits._

  /** Textbook Wagner–Fischer DP — the driver-side reference metric. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def brute(names: Seq[String], k: Int): Set[(String, String, Long)] = {
    val d = names.distinct
    (for {
      a <- d; b <- d if a < b
      e = lev(a, b) if e <= k
    } yield (a, b, e.toLong)).toSet
  }

  private def run(names: Seq[String], k: Int, q: Int = 2,
      maxGramFreq: Long = 0L): Set[(String, String, Long)] =
    Fuzzy.editDistancePairs(names.toDF("name"), "name", k, q, maxGramFreq)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  test("hand case: kitten family at k=1 and k=2") {
    val names = Seq("kitten", "sitting", "mitten", "kitte", "bitten")
    // ed(kitten,mitten)=1, ed(kitten,kitte)=1, ed(kitten,bitten)=1,
    // ed(mitten,bitten)=1, ed(mitten,kitte)=2, ed(bitten,kitte)=2,
    // ed(kitten,sitting)=3.
    assert(run(names, 1) === Set(
      ("kitten", "mitten", 1L), ("kitte", "kitten", 1L),
      ("bitten", "kitten", 1L), ("bitten", "mitten", 1L)))
    assert(run(names, 2) === brute(names, 2))
    assert(run(names, 2).size === 6)
  }

  test("short bucket: zero-shared-gram pairs within k still match") {
    // "ab"/"cd" share no bigrams yet ed=2; "a"/"b" have NO bigrams at
    // all (len < q); both pairs only exist via the brute short bucket.
    val names = Seq("ab", "cd", "a", "b", "abc")
    val got = run(names, 2)
    assert(got.contains(("ab", "cd", 2L)), got)
    assert(got.contains(("a", "b", 1L)), got)
    assert(got === brute(names, 2))
  }

  test("boundary straddle: short vs long strings across the bucket split") {
    // shortMax = q*(k+1)-1 = 5 at k=1,q=3: len-5 and len-6 strings pair
    // through the gram path; len-5 pairs via the short bucket.
    val names = Seq("aaaaa", "aaaaab", "aaaab", "zzzzz", "zzzza")
    assert(run(names, 1, q = 3) === brute(names, 1))
  }

  test("hot-gram valve keeps the result exact while dropping firehose grams") {
    // 'xx' occurs in every name — at maxGramFreq=2 it is dropped from
    // the join wherever the per-name budget allows, and the result must
    // still equal brute force.
    val names = Seq("xxabcdefgh", "xxabcdefgi", "xxabcdefg", "xxzzzzzzzz",
      "yyabcdefgh", "xxabcdXfgh")
    for (k <- 1 to 2)
      assert(run(names, k, maxGramFreq = 2) === brute(names, k), s"k=$k")
  }

  test("property: equals brute force on seeded random corpora (valve on and off)") {
    val rnd = new scala.util.Random(4242)
    for (round <- 1 to 8) {
      val alpha = "abc"
      val n = 30 + rnd.nextInt(40)
      val names = Seq.fill(n) {
        val len = 1 + rnd.nextInt(9)
        (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }
      val k = 1 + rnd.nextInt(2)
      val expected = brute(names, k)
      assert(run(names, k) === expected, s"round=$round k=$k names=$names")
      assert(run(names, k, maxGramFreq = 3) === expected,
        s"valve round=$round k=$k names=$names")
    }
  }

  test("jaccardPrefixJoin: hand case — threshold boundary and exact jaccard") {
    // pairwise: A-B J=4/6 out, A-C J=5/6 in, A-D J=5/7 out,
    // B-C J=4/7 out, B-D J=4/8 out, C-D J=6/7 in
    val sets = (Seq("a","b","c","d","e").map(("A", _)) ++
      Seq("a","b","c","d","f").map(("B", _)) ++
      Seq("a","b","c","d","e","x").map(("C", _)) ++
      Seq("a","b","c","d","e","x","y").map(("D", _))).toDF("id", "elem")
    val out = Fuzzy.jaccardPrefixJoin(sets, "id", "elem")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(4),
        r.getDouble(5)))
    assert(out.toSeq.sortBy(t => (t._1, t._2)) === Seq(
      ("A", "C", 5L, 5.0 / 6.0),
      ("C", "D", 6L, 6.0 / 7.0)))
  }

  test("jaccardPrefixJoin equals brute-force all-pairs on seeded random sets") {
    val rnd = new scala.util.Random(41)
    val universe = ('a' to 'z').map(_.toString)
    val setsMap = (1 to 60).map { i =>
      val sz = 5 + rnd.nextInt(15)
      f"d$i%03d" -> rnd.shuffle(universe).take(sz).toSet
    }.toMap
    val sets = setsMap.toSeq.flatMap { case (id, es) => es.map((id, _)) }
      .toDF("id", "elem")
    val got = Fuzzy.jaccardPrefixJoin(sets, "id", "elem", 4, 5)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val ids = setsMap.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = setsMap(ids(i)); b = setsMap(ids(j))
      inter = (a & b).size
      if inter * 9 >= 4 * (a.size + b.size)
    } yield (ids(i), ids(j)) ->
      ((a.size.toLong, b.size.toLong, inter.toLong))).toMap
    assert(got === want, s"got ${got.size} want ${want.size} pairs")
  }

  test("jaccardPrefixJoin: salted df-join valve gives identical pairs") {
    val sets = (Seq("a","b","c","d","e","x").map(("C", _)) ++
      Seq("a","b","c","d","e","x","y").map(("D", _)) ++
      Seq("p","q","r").map(("E", _))).toDF("id", "elem")
    val plain = Fuzzy.jaccardPrefixJoin(sets, "id", "elem")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    val salted = Fuzzy.jaccardPrefixJoin(sets, "id", "elem",
      saltedDfJoin = true, numSalts = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(plain.toSeq === salted.toSeq && plain.nonEmpty)
  }

  test("catalog query returns the 24 known pairs at sf0.001-scale fixture") {
    val out = OpsQueriesAccess.fuzzy(spark, sf0001)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) <= 2))
    // pairs are unordered-unique with name_a < name_b
    assert(rows.forall(r => r.getString(0) < r.getString(1)))
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length === rows.length)
  }
}

/** Access shim so the spec can run the exact catalog entry. */
private object OpsQueriesAccess {
  def fuzzy(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.SparkEntry.queries("q85_fuzzy_match")(s, dir)
}
