package graft

import org.apache.spark.sql.functions._
import graft.functions.Bpe

/** BPE merge learning / application (q225–q226): hand-traced merges on
  * the classic Sennrich example shape, determinism, exhaustion, the
  * boundary-bracketing corruption guard, and conservation laws for the
  * segment histogram.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("bpeMerges learns the hand-traced cascade on a tiny corpus") {
    // word counts: "hug" x4, "hugs" x2, "bug" x1
    val docs = Seq("hug hug hugs bug", "hug hug hugs").toDF("text")
    val m = Bpe.bpeMerges(docs, "text", rounds = 3)
      .as[(Int, String, String, String, Long)].collect().toSeq
    // pairs r1: (h,u)=6 (u,g)=7 (g,s)=2 (b,u)=1 -> merge (u,g) c=7
    assert(m(0) === ((1, "u", "g", "ug", 7L)))
    // r2: syms hug->[h,ug] x6, hugs->[h,ug,s]x2 wait hug x4 + hugs x2:
    // [h,ug] x4, [h,ug,s] x2, [b,ug] x1 -> (h,ug)=6, (ug,s)=2, (b,ug)=1
    assert(m(1) === ((2, "h", "ug", "hug", 6L)))
    // r3: [hug] x4, [hug,s] x2, [b,ug] x1 -> (hug,s)=2 only pair >=2
    assert(m(2) === ((3, "hug", "s", "hugs", 2L)))
  }

  test("bpeMerges stops early when no pair repeats; ties break " +
    "lexicographically") {
    // every word unique chars, no repeated pair anywhere
    val dry = Seq("ab cd ef").toDF("text")
    assert(Bpe.bpeMerges(dry, "text", rounds = 5).count() === 0L)
    // (a,b) and (c,d) both count 2 -> lexicographically least wins
    val tie = Seq("ab ab cd cd").toDF("text")
    val m = Bpe.bpeMerges(tie, "text", rounds = 1)
      .as[(Int, String, String, String, Long)].collect()
    assert(m.head === ((1, "a", "b", "ab", 2L)))
  }

  test("merge application is boundary-bracketed: a pair never matches " +
    "the tail of a longer symbol") {
    // After (a,b) merges, word "xab" is [x, ab]; a naive unbracketed
    // replace of "a<sep>b" would also corrupt "xa b" -> "xab" in
    // ["xa","b"]-shaped segmentations. Build one: merge (x,a) first.
    val docs = Seq("xa xa xab xab b b").toDF("text")
    val m = Bpe.bpeMerges(docs, "text", rounds = 2)
      .as[(Int, String, String, String, Long)].collect()
    // r1 pairs: (x,a)=4, (a,b)=2 -> merge (x,a)
    assert(m(0)._4 === "xa")
    // r2: words: [xa] x2, [xa,b] x2, [b] x2 -> (xa,b)=2 merges; the
    // learned rhs must be the WHOLE symbol b against xa — and applying
    // it must not have corrupted anything (counts below prove it)
    assert(m(1) === ((2, "xa", "b", "xab", 2L)))
    val seg = Bpe.bpeSegmentCounts(docs, "text", m.map(x => (x._2, x._3)))
      .as[(String, Long)].collect().toMap
    assert(seg === Map("xa" -> 2L, "xab" -> 2L, "b" -> 2L))
  }

  test("segment histogram conserves characters and respects merge " +
    "priority order") {
    val docs = Seq("low lower lowest low low", "lower newest newest").toDF("text")
    val merges = Bpe.bpeMerges(docs, "text", rounds = 6)
      .orderBy(col("round")).as[(Int, String, String, String, Long)]
      .collect().map(x => (x._2, x._3)).toSeq
    val seg = Bpe.bpeSegmentCounts(docs, "text", merges)
      .as[(String, Long)].collect().toSeq
    // conservation: sum over tokens of n * len(token) = total chars
    val totalChars = "low lower lowest low low lower newest newest"
      .split(" ").map(_.length).sum
    assert(seg.map { case (t, n) => t.length * n }.sum === totalChars)
    // determinism: training twice gives identical tables
    val again = Bpe.bpeMerges(docs, "text", rounds = 6)
      .orderBy(col("round")).as[(Int, String, String, String, Long)]
      .collect().map(x => (x._2, x._3)).toSeq
    assert(again === merges)
  }

  test("adjacent occurrences sharing a symbol boundary all merge in " +
    "one pass (double-separator representation)") {
    // 'abab' = [a,b,a,b]: with a SINGLE separator the two (a,b)
    // occurrences share the middle boundary char, the non-overlapping
    // replace consumes it, and the second occurrence is skipped ->
    // [ab,a,b]. The double-separator pattern leaves the outer boundary
    // char for the neighbor, so BPE-correct [ab,ab] comes out.
    val docs = Seq("abab abab ab ab").toDF("text")
    val m = Bpe.bpeMerges(docs, "text", rounds = 1)
      .as[(Int, String, String, String, Long)].collect()
    // pair counts on [a,b,a,b] x2 + [a,b] x2: (a,b) = 6, (b,a) = 2
    assert(m.head === ((1, "a", "b", "ab", 6L)))
    val seg = Bpe.bpeSegmentCounts(docs, "text", Seq(("a", "b")))
      .as[(String, Long)].collect().toMap
    assert(seg === Map("ab" -> 6L)) // no stray [a] / [b] survivors
    // self-pair runs resolve left-to-right like sequential BPE:
    // 'aaaa' -> [aa,aa], 'aaa' -> [aa,a]
    val runs = Seq("aaaa aaa").toDF("text")
    val segR = Bpe.bpeSegmentCounts(runs, "text", Seq(("a", "a")))
      .as[(String, Long)].collect().toMap
    assert(segR === Map("aa" -> 3L, "a" -> 1L))
  }

  // Reference implementation: textbook sequential BPE (Sennrich
  // learn_bpe shape) — pair stats count every adjacent position,
  // argmax ties to the lexicographically least pair, application
  // merges leftmost-first one occurrence at a time until none remain.
  private def refBpe(words: Map[String, Long], rounds: Int)
  : (Seq[(Int, String, String, Long)], Map[String, Long]) = {
    var segs: Map[Vector[String], Long] =
      words.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      segs.foreach { case (syms, c) =>
        syms.iterator.zip(syms.iterator.drop(1)).foreach { p =>
          counts(p) += c
        }
      }
      val viable = counts.filter(_._2 >= 2)
      if (viable.isEmpty) done = true
      else {
        val ((l, rr), c) = viable.minBy { case ((l, rr), c) => (-c, l, rr) }
        merges += ((r, l, rr, c))
        def applySeq(v: Vector[String]): Vector[String] = {
          var cur = v
          var idx = cur.indices.dropRight(1)
            .find(i => cur(i) == l && cur(i + 1) == rr)
          while (idx.isDefined) {
            val i = idx.get
            cur = (cur.take(i) :+ (l + rr)) ++ cur.drop(i + 2)
            idx = cur.indices.dropRight(1)
              .find(j => cur(j) == l && cur(j + 1) == rr)
          }
          cur
        }
        segs = segs.groupMapReduce { case (syms, _) => applySeq(syms) }(
          _._2)(_ + _)
        r += 1
      }
    }
    val hist = segs.toSeq.flatMap { case (syms, c) => syms.map((_, c)) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    (merges.result(), hist)
  }

  test("fuzz: bpeMerges + bpeSegmentCounts equal sequential reference " +
    "BPE on random corpora, across safe-prefix lookahead widths") {
    val rng = new scala.util.Random(77)
    for (trial <- 0 until 8) {
      val alphabet = "abc"
      val words = (0 until 12).map { _ =>
        (1 to (1 + rng.nextInt(5)))
          .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
      }
      val corpus = (0 until 40).map(_ => words(rng.nextInt(words.size)))
      val docs = corpus.grouped(8).map(_.mkString(" ")).toSeq.toDF("text")
      val wc = corpus.groupBy(identity).map { case (w, g) =>
        (w, g.size.toLong) }
      val (refMerges, refHist) = refBpe(wc, rounds = 6)
      // lookahead 1 = plain sequential; 2 exercises the (B+1)-th-row
      // bound; 64 exercises whole-table selection with trim/fallback
      for (la <- Seq(1, 2, 64)) {
        val gotMerges = Bpe.bpeMerges(docs, "text", rounds = 6,
          lookahead = la)
          .orderBy(col("round"))
          .as[(Int, String, String, String, Long)].collect()
          .map(x => (x._1, x._2, x._3, x._5)).toSeq
        assert(gotMerges === refMerges,
          s"trial $trial lookahead=$la corpus=$corpus")
      }
      val gotHist = Bpe.bpeSegmentCounts(docs, "text",
        refMerges.map(m => (m._2, m._3)))
        .as[(String, Long)].collect().toMap
      assert(gotHist === refHist, s"trial $trial corpus=$corpus")
    }
  }

  test("bpeMergesBatched: batchCap=1 equals exact sequential bpeMerges") {
    val docs = Seq("low lower lowest low low", "lower newest newest")
      .toDF("text")
    val exact = Bpe.bpeMerges(docs, "text", rounds = 6)
      .orderBy(col("round")).as[(Int, String, String, String, Long)]
      .collect().toSeq
    val batched = Bpe.bpeMergesBatched(docs, "text", rounds = 6,
      batchCap = 1)
      .orderBy(col("round")).as[(Int, String, String, String, Long)]
      .collect().toSeq
    assert(batched === exact)
  }

  test("bpeMergesBatched validity laws: unique merged strings, " +
    "character conservation under the learned table") {
    val rng = new scala.util.Random(11)
    val words = (0 until 200).map { _ =>
      (1 to (2 + rng.nextInt(4))).map(_ => ('a' + rng.nextInt(8)).toChar)
        .mkString
    }
    val corpus = words ++ words // every word twice -> every pair viable
    val docs = corpus.grouped(20).map(_.mkString(" ")).toSeq.toDF("text")
    val m = Bpe.bpeMergesBatched(docs, "text", rounds = 60, batchCap = 8)
      .orderBy(col("round")).as[(Int, String, String, String, Long)]
      .collect().toSeq
    assert(m.nonEmpty)
    assert(m.map(_._4).distinct.size === m.size, "duplicate merged string")
    assert(m.forall(x => x._2 + x._3 === x._4))
    val seg = Bpe.bpeSegmentCounts(docs, "text", m.map(x => (x._2, x._3)))
      .as[(String, Long)].collect().toSeq
    val totalChars = corpus.map(_.length).sum.toLong
    assert(seg.map { case (t, n) => t.length * n }.sum === totalChars)
  }

  test("bpeMergesBatched scale bound: 1000 merges in at most 20 Spark " +
    "jobs (one top-k collect per driver round)") {
    // deterministic synthetic vocabulary: 2000 distinct 4-char words
    // over a 62-symbol alphabet, each word twice so every in-word pair
    // is viable — wide enough that each round finds ~alphabet/2
    // disjoint merges and the batch size compounds
    val alpha = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString
    val rng = new scala.util.Random(42)
    val words = (0 until 4000).map { _ =>
      (1 to 8).map(_ => alpha(rng.nextInt(alpha.length))).mkString
    }.distinct
    val corpus = words ++ words
    val docs = corpus.grouped(50).map(_.mkString(" ")).toSeq.toDF("text")
    // pre-warm the word frame OUTSIDE the counted window so the
    // registry-persist scan (shared with every other consumer) isn't
    // charged to the training loop
    Bpe.bpeSegmentCounts(docs, "text", Seq(("a", "b"))).count()
    val (m, jobs) = jobsOf(Bpe.bpeMergesBatched(docs, "text", rounds = 1000,
      batchCap = 256, lookahead = 8192).collect())
    assert(m.length === 1000, s"learned ${m.length} merges")
    assert(jobs <= 20, s"took $jobs Spark jobs")
  }

  test("non-ASCII words are excluded from the training slice") {
    val docs = Seq("café café abba abba").toDF("text")
    val m = Bpe.bpeMerges(docs, "text", rounds = 1)
      .as[(Int, String, String, String, Long)].collect()
    // only "abba" trains: pairs (a,b)=2, (b,b)=2, (b,a)=2 -> (a,b)
    assert(m.head === ((1, "a", "b", "ab", 2L)))
  }

  test("bpeFertilityBy: hand-computed fertility under a given merge table") {
    val docs = Seq(
      ("src0", "ab ab cd"), // ab×2, cd×1
      ("src1", "ab xyz")    // ab×1, xyz×1
    ).toDF("source", "text")
    // under merge (a,b): ab → [ab] (1 subword), cd → [c,d] (2),
    // xyz → [x,y,z] (3)
    val got = Bpe.bpeFertilityBy(docs, "source", "text", Seq(("a", "b")))
      .orderBy("source")
      .as[(String, Long, Long, Long, Double, Double)].collect()
    assert(got(0) === (("src0", 3L, 4L, 6L,
      math.rint(4.0 / 3.0 * 1e6) / 1e6, 1.5)))
    assert(got(1) === (("src1", 2L, 4L, 5L, 2.0, 1.25)))
  }
}
