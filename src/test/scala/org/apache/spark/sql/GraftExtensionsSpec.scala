package org.apache.spark.sql

// In the org.apache.spark.sql package to reach the private[sql]
// `registerFunctions` — the exact call SparkSession's builder makes when
// `spark.sql.extensions=graft.GraftExtensions` is set, so this exercises
// the real injection path without needing a second SparkSession in the
// test JVM (extensions only apply at session build).
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  private val names = Seq("cosine_sim", "l2_sq", "tokenize_ru",
    "winnow_fingerprint", "sorted_intersect_count", "image_dims",
    "video_meta")

  test("extension installs all seven native functions") {
    val ext = new SparkSessionExtensions
    new _root_.graft.GraftExtensions().apply(ext)
    val reg = ext.registerFunctions(FunctionRegistry.builtin.clone())
    names.foreach { n =>
      assert(reg.functionExists(FunctionIdentifier(n)), n)
    }
  }

  test("injected builders produce the same expressions as register()") {
    val ext = new SparkSessionExtensions
    new _root_.graft.GraftExtensions().apply(ext)
    val reg = ext.registerFunctions(FunctionRegistry.builtin.clone())
    // resolve through the registry exactly as the analyzer would
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
    val arr = Literal.default(ArrayType(DoubleType))
    val str = Literal.default(StringType)
    val strArr = Literal.default(ArrayType(StringType))
    assert(reg.lookupFunction(FunctionIdentifier("cosine_sim"),
      Seq(arr, arr)).isInstanceOf[_root_.graft.catalyst.CosineSim])
    assert(reg.lookupFunction(FunctionIdentifier("l2_sq"),
      Seq(arr, arr)).isInstanceOf[_root_.graft.catalyst.L2Sq])
    assert(reg.lookupFunction(FunctionIdentifier("tokenize_ru"),
      Seq(str)).isInstanceOf[_root_.graft.catalyst.TokenizeStem])
    assert(reg.lookupFunction(FunctionIdentifier("winnow_fingerprint"),
      Seq(str)).isInstanceOf[_root_.graft.catalyst.WinnowFingerprint])
    assert(reg.lookupFunction(FunctionIdentifier("sorted_intersect_count"),
      Seq(strArr, strArr)).isInstanceOf[_root_.graft.catalyst.SortedIntersectCount])
    assert(reg.lookupFunction(FunctionIdentifier("image_dims"),
      Seq(Literal.default(org.apache.spark.sql.types.BinaryType)))
      .isInstanceOf[_root_.graft.catalyst.ImageDims])
    assert(reg.lookupFunction(FunctionIdentifier("video_meta"),
      Seq(Literal.default(org.apache.spark.sql.types.BinaryType)))
      .isInstanceOf[_root_.graft.catalyst.Mp4Meta])
  }
}
