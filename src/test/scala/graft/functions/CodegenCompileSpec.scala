package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hard codegen-compilation gate for every native expression (r15).
  *
  * The older "codegen-compatible" checks ran the expressions through a
  * full query and asserted VALUES — which interpreted fallback also
  * produces, so a janino CompileException degraded four r14 expressions
  * (minhash_bands, dsir_terms, bigram_stats, winnow_fps) to interpreted
  * projections for a whole round without failing anything (the
  * generated code referenced `Foo.MODULE$`, but scalac puts MODULE$ on
  * the mangled object class `Foo$`; the fix calls the static forwarders
  * on the companion class instead).
  *
  * This spec compiles each expression's generated code DIRECTLY via
  * GenerateUnsafeProjection — no fallback path exists there, so a
  * broken doGenCode throws instead of silently interpreting — and then
  * checks the compiled projection agrees with the interpreted eval on a
  * sample row (both null and non-null inputs).
  */
class CodegenCompileSpec extends graft.SparkSpec {

  private def strArr(vs: String*): ArrayData =
    new GenericArrayData(vs.map(v =>
      if (v == null) null else UTF8String.fromString(v)).toArray[Any])

  private def dblArr(vs: Double*): ArrayData =
    new GenericArrayData(vs.toArray[Double].map(Double.box(_): Any))

  private def intArr(vs: Int*): ArrayData =
    new GenericArrayData(vs.toArray[Int].map(Int.box(_): Any))

  /** compile (throws on broken codegen), evaluate, compare with the
    * interpreted path on the same rows
    */
  private def check(name: String, expr: Expression,
      rows: Seq[InternalRow]): Unit = {
    // the shared session must exist before the JVM's first code
    // generation: Spark sizes its generated-class cache once, from the
    // conf in force then, and without a session that is the default
    // bound instead of GraftSession's
    spark
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    rows.foreach { row =>
      val compiled = proj(row).get(0, expr.dataType)
      val interpreted = expr.eval(row)
      val eq = (compiled, interpreted) match {
        case (null, null) => true
        case (a: ArrayData, b: ArrayData) =>
          a.toObjectArray(expr.dataType
              .asInstanceOf[ArrayType].elementType).toSeq ==
            b.toObjectArray(expr.dataType
              .asInstanceOf[ArrayType].elementType).toSeq
        case (a: InternalRow, b: InternalRow) =>
          a.numFields == b.numFields &&
            (0 until a.numFields).forall { i =>
              val ft = expr.dataType.asInstanceOf[StructType].fields(i)
                .dataType
              a.isNullAt(i) == b.isNullAt(i) &&
                (a.isNullAt(i) || a.get(i, ft) == b.get(i, ft))
            }
        case (a, b) => a == b
      }
      assert(eq, s"$name: compiled=$compiled interpreted=$interpreted")
    }
  }

  private val sArr = BoundReference(0, ArrayType(StringType), nullable = true)

  test("minhash_bands compiles and matches interpreted") {
    check("minhash_bands", MinhashBands(sArr), Seq(
      InternalRow(strArr("the quick", "quick brown", "brown fox")),
      InternalRow(strArr()), InternalRow(null)))
  }

  test("dsir_terms compiles and matches interpreted") {
    check("dsir_terms", DsirScore(sArr, Vector(0.25, 0.5, 0.75, 1.0)), Seq(
      InternalRow(strArr("a", "b", "c")),
      InternalRow(strArr("a", null, "c")),
      InternalRow(strArr()), InternalRow(null)))
  }

  test("bigram_stats compiles and matches interpreted") {
    check("bigram_stats", BigramStats(sArr), Seq(
      InternalRow(strArr("a", "b", "a", "b")),
      InternalRow(strArr("x")), InternalRow(null)))
  }

  test("winnow_fps compiles and matches interpreted") {
    val text = BoundReference(0, StringType, nullable = true)
    check("winnow_fps", WinnowFps(text, 5, 4), Seq(
      InternalRow(UTF8String.fromString(
        "the quick brown fox jumps over the lazy dog")),
      InternalRow(UTF8String.fromString("ab")), InternalRow(null)))
  }

  test("lang_best compiles and matches interpreted") {
    check("lang_best", LangBest(sArr), Seq(
      InternalRow(strArr("the", "la", "der", "of", "the")),
      InternalRow(strArr("zzz")), InternalRow(null)))
  }

  test("hyperplane_buckets compiles and matches interpreted") {
    val v = BoundReference(0, ArrayType(DoubleType), nullable = true)
    check("hyperplane_buckets", HyperplaneBuckets(v, 2, 4, 8), Seq(
      InternalRow(dblArr(0.1, -0.2, 0.3, -0.4, 0.5, -0.6, 0.7, -0.8)),
      InternalRow(null)))
  }

  test("cosine_sim / cosine_sim_i8 compile and match interpreted") {
    val a = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val b = BoundReference(1, ArrayType(DoubleType), nullable = true)
    check("cosine_sim", CosineSim(a, b), Seq(
      InternalRow(dblArr(1.0, 2.0), dblArr(2.0, 1.0)),
      InternalRow(null, dblArr(1.0, 1.0))))
    val ai = BoundReference(0, ArrayType(IntegerType), nullable = true)
    val bi = BoundReference(1, ArrayType(IntegerType), nullable = true)
    check("cosine_sim_i8", CosineSimI8(ai, bi), Seq(
      InternalRow(intArr(1, 2), intArr(2, 1)),
      InternalRow(null, intArr(1, 1))))
  }

  test("token_weight_sum compiles and matches interpreted") {
    val toks = BoundReference(0, ArrayType(StringType), nullable = true)
    val row = InternalRow(strArr("a", "b", "b"))
    val weights = Literal.create(Map("a" -> 3L, "b" -> 2L),
      MapType(StringType, LongType))
    check("token_weight_sum", TokenWeightSum(toks, weights),
      Seq(row, InternalRow(null)))
  }
}
