package graft

import graft.ext.Similarity
import graft.ext.Similarity.{Dim, KmIters, KmSampleMod, NumCells, PqKSub, PqM, PqSampleMod, PqSubDim}
import graft.functions.VectorFunctions
import graft.ops.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one-job Lloyd step (Similarity.lloydStep) bit-equal to the
  * per-(cell, dim) posexplode + groupBy step it replaced in trainCodebook
  * and trainPqCodebook. The replaced step is kept here as the spec
  * oracle (groupByStep), and each trainer is re-run end to end around
  * it: the codebooks must agree float for float on the sf0.001 and
  * sf0.01 embeddings and on crafted vectors whose components land
  * exactly on a ±0.5 micro-unit boundary, where the HALF_UP snap decides
  * the sum.
  */
class LloydStepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The replaced step: rows (cell, x), posexplode x, groupBy (cell,
    * dim), micro-unit SUM and COUNT, driver-side mean; cells×dims that
    * got no row keep `prev`.
    */
  private def groupByStep(rows: DataFrame, prev: Array[Float],
                          dim: Int): Array[Float] = {
    val sums = rows
      .select(col("cell"), posexplode(col("x")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(round(col("x").cast("double") * 1e6).cast("long")).as("s"),
           count(lit(1)).as("n"))
      .collect()
    val next = prev.clone()
    sums.foreach { r =>
      next(r.getInt(0) * dim + r.getInt(1)) =
        (r.getLong(2).toDouble / (r.getLong(3).toDouble * 1e6)).toFloat
    }
    next
  }

  private def sampleOf(e0: DataFrame, salt: String, mod: Long): DataFrame =
    e0.filter(Ops.md5Bits60(concat(col("vec_id").cast("string"), lit(salt)))
                % mod === 0L)
      .select(col("vec_id"), col("embedding"))

  private def seedsOf(sample: DataFrame, k: Int): Array[Array[Float]] =
    sample.orderBy(col("vec_id")).limit(k).collect()
      .map(_.getSeq[Float](1).toArray)

  private def referenceCodebook(e0: DataFrame): Array[Float] = {
    val sample = sampleOf(e0, ":km", KmSampleMod)
    var mat = seedsOf(sample, NumCells).flatten
    for (_ <- 1 to KmIters) {
      mat = groupByStep(sample.select(
        element_at(VectorFunctions.matrixDotRank(col("embedding"), mat, Dim), 1)
          .as("cell"),
        col("embedding").as("x")), mat, Dim)
    }
    mat
  }

  private def referencePqCodebook(e0: DataFrame): Array[Float] = {
    val sample = sampleOf(e0, ":pq", PqSampleMod)
    val seeds = seedsOf(sample, PqKSub)
    val cents0 = Array.tabulate(PqM, PqKSub)((m, c) =>
      seeds(c).slice(m * PqSubDim, (m + 1) * PqSubDim))
    val rows = sample
      .select(col("embedding"),
              explode(Similarity.pqCodeStructs(col("embedding"), cents0)).as("c"))
      .select((col("c.m") * PqKSub + col("c.code")).as("cell"),
              slice(col("embedding"), col("c.m") * PqSubDim + 1, lit(PqSubDim))
                .as("x"))
    groupByStep(rows, cents0.flatten.flatten, PqSubDim)
  }

  /** Components ±(2k+1)/128: exact floats whose x·1e6 is exactly
    * ±(2k+1)·7812.5, so every component sits on a HALF_UP boundary.
    */
  private def boundary(i: Int, j: Int): Float = {
    val k = (i * 7 + j * 13) % 64
    val x = (2 * k + 1) / 128f
    if ((i + j) % 3 == 0) -x else x
  }

  private def crafted: DataFrame = {
    import spark.implicits._
    (0 until 512).map(i => (i.toLong, (0 until Dim).map(boundary(i, _))))
      .toDF("vec_id", "embedding")
  }

  private def sameBits(a: Array[Float], b: Array[Float]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Float.floatToRawIntBits(a(i)) ==
        java.lang.Float.floatToRawIntBits(b(i)))

  test("crafted components sit exactly on ±0.5 micro-unit boundaries") {
    val xs = for (i <- 0 until 512; j <- 0 until Dim) yield boundary(i, j)
    assert(xs.exists(_ < 0) && xs.exists(_ > 0))
    xs.foreach { x =>
      val d = java.math.BigDecimal.valueOf(x.toDouble * 1e6)
      assert(d.remainder(java.math.BigDecimal.ONE).abs.doubleValue == 0.5,
             s"$x is not on a boundary")
    }
    // some of them round differently under HALF_EVEN (even floor): the
    // case a rounding-mode drift in the snap would move
    assert(xs.exists { x =>
      val d = java.math.BigDecimal.valueOf(x.toDouble * 1e6)
      d.setScale(0, java.math.RoundingMode.HALF_UP) !=
        d.setScale(0, java.math.RoundingMode.HALF_EVEN)
    })
  }

  private val inputs: Seq[(String, () => DataFrame)] = Seq(
    "sf0.001 embeddings" -> (() => Tables.embeddings(spark, TestSpark.Sf)),
    "sf0.01 embeddings" -> (() => Tables.embeddings(spark,
                                TestSpark.Sf.stripSuffix("sf0.001") + "sf0.01")),
    "crafted ±0.5 boundary vectors" -> (() => crafted))

  for ((name, e0) <- inputs) {
    test(s"trainCodebook == groupBy-step reference on $name") {
      val df = e0()
      val got = Similarity.trainCodebook(df)
      val want = referenceCodebook(df)
      assert(sameBits(got, want), s"codebook drifted on $name")
    }

    test(s"trainPqCodebook == groupBy-step reference on $name") {
      val df = e0()
      val got = Similarity.trainPqCodebook(df).flatten.flatten
      val want = referencePqCodebook(df)
      assert(sameBits(got, want), s"PQ codebook drifted on $name")
    }
  }
}
