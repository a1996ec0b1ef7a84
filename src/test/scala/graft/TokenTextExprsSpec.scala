package graft

import graft.ext.{Dedup, TextOps}
import graft.ops.Ops
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{QcZMicro, Shim, SimHash60, StopWordHits, TokenBucketCounts}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-15 compiled single-pass expressions bit-equal to the
  * DataFrame formulations they replaced, on BOTH the fixture corpus and
  * crafted adversarial strings (empty text, runs of spaces, multi-byte
  * UTF-8, word-at-boundary cases). The replaced formulations are kept
  * in-tree (hitsContainsForm, simhashSigAggForm) as the spec oracles so
  * the equivalence stays executable, not archaeological.
  */
class TokenTextExprsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.Sf

  private def crafted = {
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      "",
      " ",
      "the",
      "the the the",
      "xthe they athe",
      "  the  a  ",
      "der die das und ist nicht",
      "él los las qué y es",                  // multi-byte near-misses
      "el los las que y es",
      "a b c d e f g h the of and to is",
      "über straße does not match aber le les des et est une",
      "word " * 200 + "the"
    ).zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row(i.toLong, t)
    }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
  }

  private def fixtureDocs = Tables.documents(spark, sf)

  test("StopWordHits == contains-form on fixtures and crafted text") {
    for (df <- Seq(fixtureDocs, crafted); (_, words) <- TextOps.StopSets) {
      val bad = df.select(
          TextOps.hits(col("text"), words).as("a"),
          TextOps.hitsContainsForm(col("text"), words).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(bad === 0, s"StopWordHits drifted from contains form ($words)")
    }
  }

  test("SimHash60 == 60-sum aggregate form on fixtures and crafted text") {
    for (df <- Seq(fixtureDocs, crafted)) {
      val native = Dedup.simhashSig(df)
      val agg = Dedup.simhashSigAggForm(df)
      val diff = native.as("n").join(agg.as("a"), Seq("doc_id"), "full")
        .filter(col("n.simhash").isNull || col("a.simhash").isNull ||
                col("n.simhash") =!= col("a.simhash"))
        .count()
      assert(diff === 0, "SimHash60 drifted from the aggregate form")
    }
  }

  test("TokenBucketCounts == explode+groupBy counts (and n_toks == size)") {
    val dim = TextOps.QcDim
    for (df <- Seq(fixtureDocs, crafted)) {
      // sparse reference: per (doc, bucket) counts via the old pipeline
      val ref = df
        .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"),
                 (Ops.md5Bits60(concat(col("term"), lit(":qc"))) % dim)
                   .as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val dense = df.select(col("doc_id"),
          Shim.column(TokenBucketCounts(
            Shim.expression(Ops.tokens(col("text"))), ":qc", dim)).as("bc"),
          size(Ops.tokens(col("text"))).cast("long").as("n_toks"))
      val sparseFromDense = dense
        .select(col("doc_id"), posexplode(col("bc")).as(Seq("bucket", "cnt")))
        .filter(col("cnt") > 0)
        .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
                col("cnt"))
      val drift = sparseFromDense.as("n")
        .join(ref.as("r"), Seq("doc_id", "bucket"), "full")
        .filter(col("n.cnt").isNull || col("r.cnt").isNull ||
                col("n.cnt") =!= col("r.cnt")).count()
      assert(drift === 0, "TokenBucketCounts drifted from explode+groupBy")
      val ntokDrift = dense.select(col("doc_id"), col("n_toks"))
        .join(ref.groupBy(col("doc_id")).agg(sum(col("cnt")).as("s")),
              Seq("doc_id"))
        .filter(col("n_toks") =!= col("s")).count()
      assert(ntokDrift === 0, "size(tokens) != Σ bucket counts")
    }
  }

  test("QcZMicro == sum(round(element_at·cnt/n_toks·1e6)) aggregate form") {
    val dim = TextOps.QcDim
    val rnd = new scala.util.Random(421)
    val w = Array.fill(dim)(rnd.nextDouble() * 8.0 - 4.0)
    val wArr = array(w.map(lit).toIndexedSeq: _*)
    for (df <- Seq(fixtureDocs, crafted)) {
      val dense = df.select(col("doc_id"),
          Shim.column(TokenBucketCounts(
            Shim.expression(Ops.tokens(col("text"))), ":qc", dim)).as("bc"),
          size(Ops.tokens(col("text"))).cast("long").as("n_toks"))
      val native = dense.select(col("doc_id"),
          Shim.column(QcZMicro(Shim.expression(col("bc")),
                               Shim.expression(col("n_toks")),
                               w.toIndexedSeq)).as("z"))
      val ref = df
        .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"),
                 (Ops.md5Bits60(concat(col("term"), lit(":qc"))) % dim)
                   .as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val refZ = ref
        .join(ref.groupBy(col("doc_id")).agg(sum(col("cnt")).as("n_toks")),
              Seq("doc_id"))
        .groupBy(col("doc_id"))
        .agg(sum(round(element_at(wArr, col("bucket").cast("int") + 1)
                         * col("cnt") / col("n_toks") * 1e6).cast("long"))
               .as("z"))
      val drift = native.as("n").join(refZ.as("r"), Seq("doc_id"), "inner")
        .filter(col("n.z") =!= col("r.z")).count()
      assert(drift === 0, "QcZMicro drifted from the aggregate form")
    }
  }

  test("Md5Bits60 == md5 hex round trip: fixture tokens, salts, non-ASCII, empty, null") {
    val words = fixtureDocs.select(explode(Ops.tokens(col("text"))).as("t"))
      .unionByName(crafted.select(explode(Ops.tokens(col("text"))).as("t")))
      .unionByName(crafted.select(col("text").as("t"))) // "", multi-byte
      .unionByName(spark.range(1).select(lit(null).cast("string").as("t")))
    assert(words.filter(col("t") === "").count() > 0)
    for (x <- Seq(col("t"), concat(col("t"), lit(":qc")),
                  concat(col("t"), lit(":"), col("t")))) {
      val both = words.select(Ops.md5Bits60(x).as("n"),
                              Ops.md5Bits60HexForm(x).as("h"))
      assert(both.filter(!(col("n") <=> col("h"))).count() === 0,
             s"Md5Bits60 drifted from the hex form on $x")
      assert(both.filter(col("n").isNull).count() === 1, "null in, null out")
    }
    // the interpreted path (no codegen) agrees too
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftshim.Md5Bits60
    val bytes = "ünïcode".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(Md5Bits60(Literal(bytes)).eval() ==
             spark.range(1).select(Ops.md5Bits60HexForm(lit("ünïcode")))
               .head().getLong(0))
  }

  test("QcRound.roundToLong == BigDecimal HALF_UP + toLong, brute force") {
    def ref(x: Double): Long =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x.toLong
      else java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    val crafted = Seq(0.0, -0.0, 0.5, -0.5, 2.5, -2.5, 0.49999999999999994,
      -0.49999999999999994, 0.9999999999999999, 1.4999999999999998,
      4503599627370495.5, -4503599627370495.5, math.pow(2, 52),
      math.pow(2, 53), 1e18, -1e18, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue,
      math.nextDown(0.5), math.nextUp(0.5), math.nextDown(2.5),
      math.nextUp(-2.5), 1e6 - 0.5, -(1e6 - 0.5))
    for (x <- crafted)
      assert(org.apache.spark.sql.graftshim.QcRound.roundToLong(x) === ref(x),
             s"crafted $x")
    val rnd = new scala.util.Random(7)
    var i = 0
    while (i < 2000000) {
      // mix magnitudes: micro-unit-scale, tiny, huge, and near-half
      val x = rnd.nextInt(4) match {
        case 0 => (rnd.nextDouble() - 0.5) * 2e6
        case 1 => (rnd.nextDouble() - 0.5) * 1e-3
        case 2 => (rnd.nextDouble() - 0.5) * 1e17
        case _ => rnd.nextInt(2000000) - 1000000 + 0.5 +
                    (rnd.nextInt(3) - 1) * 1e-12
      }
      assert(org.apache.spark.sql.graftshim.QcRound.roundToLong(x) === ref(x),
             s"random $x")
      i += 1
    }
  }

  test("NormalizeWs == lower(regexp_replace) on fixtures and crafted text") {
    val ws = Seq("", " ", "\t\n", "A\tB", "Mixed  CASE\r\ntext",
      "ÜBER Straße İstanbul ΣΙΓΜΑ", "ab", "  lead trail  ",
      "\f\f", "no_ws_at_all", "ünïcodé\twith\nmany\f\rseps")
    import spark.implicits._
    for (df <- Seq(fixtureDocs.select(col("text")), ws.toDF("text"))) {
      val bad = df.select(
          Ops.normalizeText(col("text")).as("a"),
          Ops.normalizeTextRegexForm(col("text")).as("b"))
        .filter(col("a") =!= col("b") ||
                col("a").isNull =!= col("b").isNull).count()
      assert(bad === 0, "NormalizeWs drifted from the regex form")
    }
  }

  test("StopWordHits early-exit and boundary semantics (unit rows)") {
    val f = StopWordHits(Shim.expression(lit("x")), Seq("the", "a"))
    def hitsOf(s: String): Int =
      f.compute(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert(hitsOf("") === 0)
    assert(hitsOf("the") === 1)
    assert(hitsOf("a the a the") === 2)
    assert(hitsOf("athe thea") === 0)
    assert(hitsOf("  a  ") === 1)
    assert(hitsOf("the\ta") === 0) // tabs are not token boundaries
  }
}
