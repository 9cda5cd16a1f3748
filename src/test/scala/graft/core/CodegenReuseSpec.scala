package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.SparkSpec

/** Repeated executions reuse their generated classes instead of
  * recompiling them. Spark caches compiled classes keyed by (context
  * class loader, generated source) in an LRU of
  * `spark.sql.codegen.cache.maxEntries` entries; GraftSession sizes the
  * bound and turns off artifact isolation so the cache can hit. Every
  * Janino compilation adds one sample to
  * `CodegenMetrics.METRIC_COMPILATION_TIME`, so its count delta is the
  * number of classes a run compiled.
  */
class CodegenReuseSpec extends SparkSpec with BeforeAndAfterAll {

  // a data dir holding only a small documents table: the stream gate's
  // input, and no media table, so x91 reads the committed media fixture
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("codegen-reuse")
    spark.range(400)
      .select(col("id").as("doc_id"),
        concat(lit("doc text "), (col("id") % 97).cast("string")).as("text"))
      .write.parquet(s"$d/documents.parquet")
    d.toString
  }

  override def afterAll(): Unit = {
    val root = java.nio.file.Paths.get(dir)
    val paths = java.nio.file.Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    finally paths.close()
    super.afterAll()
  }

  private def compiled(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** empties the JVM-wide generated-class cache, so the next run's
    * count is the query's whole class count whatever earlier specs
    * compiled (Spark exposes no public call for this, and the cache
    * type is private to Spark, hence reflection)
    */
  private def clearCodegenCache(): Unit = {
    val f = Class.forName(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      .getDeclaredField("cache")
    f.setAccessible(true)
    val cache = f.get(null)
    cache.getClass.getMethod("invalidateAll").invoke(cache); ()
  }

  test("a re-run stream gate compiles no classes") {
    // every streaming query runs on a cloned session; with artifact
    // isolation on, each clone's tasks get a new executor class loader,
    // so a re-run missed the cache on every class
    def run(): Unit = {
      graft.stream.StreamOps.bloomGateStream(spark, dir).collect(); ()
    }
    val first = compiled(run())
    val second = compiled(run())
    info(s"st14 classes compiled: first run $first, second run $second")
    assert(second == 0,
      s"the second st14 run compiled $second classes (first: $first)")
  }

  test("a re-run media funnel reuses most of its generated classes") {
    // one x91 execution compiles more classes than Spark's default
    // 100-entry cache holds, so with the default every run recompiled
    // ~95% of them. Some recompiles remain: AQE re-plans stages per run.
    val fn = graft.SparkEntry.queries("x91_media_funnel")
    def run(): Unit = {
      spark.catalog.clearCache()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    }
    clearCodegenCache()
    val first = compiled(run())
    val second = compiled(run())
    info(s"x91 classes compiled: first run $first, second run $second")
    assert(first > 100, s"a cold x91 run should compile >100 classes: $first")
    assert(second * 2 < first,
      s"the second x91 run compiled $second of the first run's $first classes")
  }
}
