package graft

import graft.ext.Corpus
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck pin: the distributed min-label propagation equals a
  * driver-side union-find on random graphs — the adversarial check the
  * fixed verify corpus can't provide (odd diameters, isolated vertices,
  * multi-edges, self-loops).
  */
object CorpusProps extends Properties("graft.Corpus") {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Each case runs a full iterative Spark job cascade — cap the count.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  val graphGen: Gen[(List[Long], List[(Long, Long)])] = for {
    n <- Gen.chooseNum(1, 14)
    vs = (1L to n.toLong).toList
    m <- Gen.chooseNum(0, 16)
    es <- Gen.listOfN(m, for {
      a <- Gen.chooseNum(1L, n.toLong)
      b <- Gen.chooseNum(1L, n.toLong)
    } yield (a, b))
  } yield (vs, es)

  private def unionFind(vs: List[Long], es: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vs.map { v =>
      // component id = min member: chase to root, which union-by-min keeps minimal
      v -> find(v)
    }.toMap
  }

  private def coldMatches(vs: List[Long], es: List[(Long, Long)]): Boolean = {
    val vertices = vs.toDF("doc_id")
    val e0 = es.toDF("src", "dst")
    val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
    val got = Corpus.minLabelPropagate(vertices, edges)
      .as[(Long, Long)].collect().toMap
    got == unionFind(vs, es)
  }

  property("minLabelPropagate == union-find component minima") =
    Prop.forAllNoShrink(graphGen) { case (vs, es) => coldMatches(vs, es) }

  // the same, with every round on the reliable Dataset.checkpoint route
  property("minLabelPropagate == union-find (reliable checkpoint dir)") =
    Prop.forAllNoShrink(graphGen) { case (vs, es) =>
      TestSpark.withReliableCheckpointDir(coldMatches(vs, es))
    }

  // ------------------------------------------------------------------
  // boilerplateRemove invariants on random corpora: a driver-side
  // re-implementation of the segment/df/filter/reassemble pipeline must
  // agree exactly, covering shapes the fixed corpus can't (doc counts
  // of 1, all-duplicate corpora, token counts straddling the segment
  // boundary, repeated segments WITHIN one doc — df counts docs, not
  // occurrences).
  // ------------------------------------------------------------------
  val corpusGen: Gen[List[(Long, String)]] = for {
    nDocs <- Gen.chooseNum(1, 8)
    vocab <- Gen.chooseNum(2, 5) // tiny vocab → cross-doc segment collisions
    docs <- Gen.listOfN(nDocs, for {
      nToks <- Gen.chooseNum(1, 23)
      toks <- Gen.listOfN(nToks, Gen.chooseNum(1, vocab).map(i => s"w$i"))
    } yield toks.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }

  private def refBoilerplate(docs: List[(Long, String)])
      : Map[Long, (Long, Long, String)] = {
    val w = Corpus.BoilerSegWords
    val segs = docs.map { case (id, t) =>
      id -> t.split(" ", -1).grouped(w).map(_.mkString(" ")).toVector
    }.toMap
    val df = segs.values.flatMap(_.distinct).groupBy(identity)
      .map { case (s, occ) => s -> occ.size }
    docs.map { case (id, _) =>
      val kept = segs(id).filter(s => df(s) < Corpus.BoilerDfCap)
      id -> ((segs(id).length.toLong, kept.length.toLong, kept.mkString(" ")))
    }.toMap
  }

  property("boilerplateRemove == driver-side reference pipeline") =
    Prop.forAllNoShrink(corpusGen) { docs =>
      val got = Corpus.boilerplateRemove(docs.toDF("doc_id", "text"))
        .as[(Long, Long, Long, Double, String)].collect()
        .map { case (id, n, k, _, t) => id -> ((n, k, t)) }.toMap
      got == refBoilerplate(docs)
    }

  // --- round-7 native-expression pins on RANDOM inputs -----------------

  private val wordGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 12)
    cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')) // tiny alphabet forces
  } yield cs.mkString                              // repeats + overlaps

  private val mergesGen: Gen[List[(String, String)]] = for {
    m <- Gen.chooseNum(0, 6)
    ms <- Gen.listOfN(m, for {
      l <- Gen.oneOf("a", "b", "c", "ab", "aa", "bc", "abc")
      r <- Gen.oneOf("a", "b", "c", "ab", "aa", "bc", "abc")
    } yield (l, r))
  } yield ms

  property("BpeEncodeWord == string-fold encoder on random words+merges") =
    Prop.forAllNoShrink(Gen.listOfN(8, wordGen), mergesGen) { (words, merges) =>
      import org.apache.spark.sql.graftshim.{BpeEncodeWord, Shim}
      val got = words.toDF("w")
        .select(Shim.column(BpeEncodeWord(Shim.expression($"w"), merges))
                  .as("enc"))
        .as[Seq[String]].collect().toList
      got == words.map(w => Corpus.bpeEncode(w, merges))
    }

  property("WordShingles: all-occurrences positional, distinct = first-seen dedup") =
    Prop.forAllNoShrink(Gen.chooseNum(1, 5),
                        Gen.listOfN(10, Gen.listOfN(6, Gen.oneOf("x", "y", "z"))
                          .map(_.mkString(" ")))) { (n, texts) =>
      val rows = texts.toDF("text")
        .select(org.apache.spark.sql.functions.split($"text", " ").as("t"))
        .select(graft.ops.Ops.shinglesAll($"t", n).as("all"),
                graft.ops.Ops.shingles($"t", n).as("dis"),
                $"t")
        .as[(Seq[String], Seq[String], Seq[String])].collect()
      rows.forall { case (all, dis, t) =>
        val expectAll = (0 until math.max(t.length - n, 0) + 1)
          .map(i => t.slice(i, math.min(i + n, t.length)).mkString(" "))
        all == expectAll && dis == expectAll.distinct
      }
    }

  property("dedupSubstring: replaying a corpus under higher ids never changes the originals") =
    Prop.forAllNoShrink(Gen.listOfN(3,
        Gen.listOfN(55, Gen.oneOf("p", "q")).map(_.mkString(" ")))) { texts =>
      import graft.ext.Dedup
      val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val copies = texts.zipWithIndex.map { case (t, i) => (100L + i, t) }
      val both = (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        ++ copies).toDF("doc_id", "text")
      val before = Dedup.dedupSubstring(base)
        .as[(Long, Long, Long, String)].collect()
        .filter(_._1 < 100).toList
      val after = Dedup.dedupSubstring(both)
        .as[(Long, Long, Long, String)].collect()
        .filter(_._1 < 100).toList
      // first-seen-wins: later exact copies are pure losers — the
      // original docs' kept text and drop counts are unchanged.
      before == after
    }

  private def warmMatches(vs: List[Long], es: List[(Long, Long)]): Boolean = {
    val vertices = vs.toDF("doc_id")
    val e0 = es.toDF("src", "dst")
    val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
    // valid warm start: each vertex labeled with the min of itself and
    // its direct neighbors (one manual propagation round)
    val nbrMin = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).min }
    val init = vs.map(v => v -> math.min(v, nbrMin.getOrElse(v, v)))
      .toDF("doc_id", "label")
    val got = Corpus.minLabelPropagate(vertices, edges, Some(init))
      .as[(Long, Long)].collect().toMap
    got == unionFind(vs, es)
  }

  property("warm-started propagation reaches the same fixpoint") =
    Prop.forAllNoShrink(graphGen) { case (vs, es) => warmMatches(vs, es) }

  property("warm-started propagation, reliable checkpoint dir") =
    Prop.forAllNoShrink(graphGen) { case (vs, es) =>
      TestSpark.withReliableCheckpointDir(warmMatches(vs, es))
    }
}
