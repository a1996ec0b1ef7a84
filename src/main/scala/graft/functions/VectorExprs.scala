package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.{FloatMatrixDotRank, FloatMatrixSignBucket, FloatVectorDot, FloatVectorNorm, HammingDistance, Shim}

/** Column-API face of the native Catalyst vector expressions (the
  * expression classes live in the graftshim package because they use
  * Spark-internal `private[sql]` types like AbstractDataType).
  */
object VectorFunctions {
  def vecDot(a: Column, b: Column): Column =
    Shim.column(FloatVectorDot(Shim.expression(a), Shim.expression(b)))
  def vecNorm(a: Column): Column = Shim.column(FloatVectorNorm(Shim.expression(a)))
  def hamming(a: Column, b: Column): Column =
    Shim.column(HammingDistance(Shim.expression(a), Shim.expression(b)))

  /** Codebook-row ids ranked by dot product with `a` (dot desc, id asc).
    * `mat` is row-major numRows×dim; it rides the plan as one reference
    * object instead of numRows literal subtrees.
    */
  def matrixDotRank(a: Column, mat: Array[Float], dim: Int): Column =
    Shim.column(FloatMatrixDotRank(Shim.expression(a),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(mat.clone()), dim))

  /** Sign-LSH bucket of `a` against row-major numPlanes×dim hyperplanes. */
  def signBucket(a: Column, planes: Array[Float], dim: Int): Column =
    Shim.column(FloatMatrixSignBucket(Shim.expression(a),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(planes.clone()), dim))

  /** Register the native functions for SQL use in an existing session. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_dot",
      es => FloatVectorDot(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_norm",
      es => FloatVectorNorm(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_hamming",
      es => HammingDistance(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_hll",
      es => org.apache.spark.sql.graftshim.HllSketchAgg(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_heavy_hitters",
      es => org.apache.spark.sql.graftshim.MisraGriesAgg.fromFunctionArgs(es),
      "scala_udf")
    reg.createOrReplaceTempFunction("graft_rolling_hash",
      es => org.apache.spark.sql.graftshim.RollingHash64.fromFunctionArgs(es),
      "scala_udf")
  }
}
