package graft

import org.apache.spark.sql.functions._

/** DamerauLevenshtein correctness: pinned cross-engine cases (probed
  * against DuckDB's damerau_levenshtein, the oracle), an EXHAUSTIVE
  * comparison against a breadth-first-search edit-graph reference on a
  * small alphabet (BFS over actual edit sequences is definitionally the
  * unrestricted Lowrance-Wagner distance — it would catch an
  * accidental OSA restriction, which differs first on 3-letter
  * alphabets), and the dl ≤ lev invariant on real fixture names.
  */
class DamerauSpec extends SparkSpec {
  import graft.functions.DamerauLevenshtein.distance

  test("pinned cases match DuckDB's unrestricted damerau_levenshtein") {
    // CA/ABC is THE discriminator: OSA says 3, true DL says 2
    assert(distance("CA", "ABC") === 2)
    assert(distance("ABC", "CA") === 2)
    assert(distance("ab", "ba") === 1)
    assert(distance("kitten", "sitting") === 3)
    assert(distance("", "abc") === 3)
    assert(distance("abc", "") === 3)
    assert(distance("abcdef", "abcfed") === 2)
    assert(distance("same", "same") === 0)
  }

  /** Unrestricted DL by definition: BFS over the edit graph (insert /
    * delete / substitute / adjacent transpose, alphabet-restricted),
    * intermediate length capped at max+2 — edit distances here are ≤ 6,
    * and no optimal ≤6-step path needs to grow past the longer string
    * by more than the remaining budget, so the cap is safe. */
  private def bfsDl(s: String, t: String, alpha: Seq[Char]): Int = {
    if (s == t) return 0
    val cap = math.max(s.length, t.length) + 2
    def neighbors(x: String): Iterator[String] = {
      val ins = for (i <- (0 to x.length).iterator; c <- alpha.iterator)
        yield x.substring(0, i) + c + x.substring(i)
      val del = for (i <- (0 until x.length).iterator)
        yield x.substring(0, i) + x.substring(i + 1)
      val sub = for (i <- (0 until x.length).iterator; c <- alpha.iterator
                     if c != x.charAt(i))
        yield x.substring(0, i) + c + x.substring(i + 1)
      val tra = for (i <- (0 until x.length - 1).iterator
                     if x.charAt(i) != x.charAt(i + 1))
        yield x.substring(0, i) + x.charAt(i + 1) + x.charAt(i) +
          x.substring(i + 2)
      (ins ++ del ++ sub ++ tra).filter(_.length <= cap)
    }
    val seen = scala.collection.mutable.Set(s)
    var frontier = List(s)
    var d = 0
    while (true) {
      d += 1
      val next = frontier.iterator.flatMap(neighbors)
        .filterNot(seen).toList.distinct
      if (next.contains(t)) return d
      next.foreach(seen += _)
      frontier = next
    }
    -1 // unreachable
  }

  test("exhaustive vs BFS edit-graph reference, alphabet {a,b,c} len<=3") {
    val alpha = Seq('a', 'b', 'c')
    val strs = (0 to 3).flatMap(n =>
      Seq.fill(n)(alpha).foldLeft(Seq(""))((acc, cs) =>
        for (p <- acc; c <- cs) yield p + c))
    for (s <- strs; t <- strs) {
      assert(distance(s, t) === bfsDl(s, t, alpha), s"dl('$s','$t')")
    }
  }

  test("dl <= lev on fixture part-name pairs, and the graded query runs") {
    val out = SparkEntry.queries("fn_damerau_levenshtein")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3),
        s"dl > lev on ${r.getString(0)} / ${r.getString(1)}")
    }
  }
}
