package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** ScalaCheck properties for the native vector kernels: the codegen'd
  * expressions must be BIT-identical to the interpreted HOF chains
  * they replaced — three DuckDB-oracled queries (emb_pq_codes,
  * emb_knn_pq, emb_knn_ivf_pq) ride on SubspaceDist reproducing the
  * aggregate(zip_with(slice,slice)) fold exactly, and every cosine in
  * the suite rides on VectorDot. Doubles compared with ==: the
  * contract is identical bits, not approximate agreement. */
object VectorExprProps extends Properties("VectorExpr") {

  private lazy val spark = TestSession.session

  private val vecGen: Gen[List[Float]] =
    Gen.choose(8, 64).flatMap(n => Gen.listOfN(n,
      Gen.choose(-4.0, 4.0).map(_.toFloat)))

  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def hofSubDist(a: Column, b: Column, start: Int, len: Int): Column =
    aggregate(
      zip_with(slice(a, start + 1, len), slice(b, start + 1, len),
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  property("VectorDot == interpreted fold, bit for bit") =
    Prop.forAll(vecGen, vecGen) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val (a, b) = (a0.take(n), b0.take(n))
      import spark.implicits._
      val r = Seq((a, b)).toDF("a", "b")
        .select(call_function("vector_dot", col("a"), col("b")).as("native"),
          hofDot(col("a"), col("b")).as("hof"))
        .first()
      r.getDouble(0) == r.getDouble(1)
    }

  property("SubspaceDist == interpreted slice fold, every subspace, bit for bit") =
    Prop.forAll(vecGen, vecGen, Gen.choose(0, 7)) { (a0, b0, s) =>
      val n = math.min(a0.length, b0.length)
      val (a, b) = (a0.take(n), b0.take(n))
      val sub = math.max(n / 8, 1)
      import spark.implicits._
      val r = Seq((a, b)).toDF("a", "b")
        .select(
          call_function("subspace_dist", col("a"), col("b"),
            lit(s * sub), lit(sub)).as("native"),
          hofSubDist(col("a"), col("b"), s * sub, sub).as("hof"))
        .first()
      r.getDouble(0) == r.getDouble(1)
    }
}
