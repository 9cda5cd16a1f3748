package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Health
import graft.llm.{Dedup, Multimodal, Similarity, TextOps}
import graft.meta.{FixtureCatalog, GluePayloadCatalog, Model, RestPayloadCatalog}
import graft.ops.MetaOps

/** The module layers of a traced run: each public function is called
  * once over intermediates the benchmark stored first, inside its own
  * span, so its wall time and the jobs it starts are its own.
  */
object Modules {

  /** every module metric, in report order (0 on workloads that leave
    * the module idle)
    */
  val names: Seq[String] = Seq(
    "multimodal.extract_s", "multimodal.extract_cpu_s",
    "multimodal.edges_s", "multimodal.edges_jobs", "multimodal.edges",
    "multimodal.funnel_s", "multimodal.funnel_jobs",
    "dedup.cc_s", "dedup.cc_jobs", "dedup.cc_edges_in",
    "dedup.candidates_s", "dedup.candidate_pairs", "dedup.verify_yield",
    "functions.minhash_s", "functions.winnow_s", "functions.cosine_s",
    "similarity.assign_s", "similarity.assign_jobs",
    "meta.load_s", "analytics.health_s", "ops.s")

  /** x73's band geometry (4 bands of 8 bits) and similarity floor */
  private val LshBands = 4
  private val LshBits = 8
  private val MinCos = 0.3
  /** the Jaccard floor a candidate pair must reach to count as kept */
  private val KeepJaccard = 0.8

  /** The helpers the layer groups call the public functions through:
    * each call runs inside its own span, over intermediates stored
    * first, so its wall time and the jobs it starts are its own.
    */
  final class Ctx(val spark: SparkSession, c: Harness.Conf,
      t: Harness.Tracer, val out: ModuleStats) {
    val data: String = c.data
    val fixtures: String = c.fixtures
    private val stored = s"${c.out}/intermediates"
    private var n = 0

    /** time `body`'s frame materialized into a stored parquet
      * intermediate; returns the stored frame re-read and its row count
      */
    def call(layer: String)(body: => DataFrame): (DataFrame, Long) = {
      n += 1
      val path = s"$stored/$n"
      spark.catalog.clearCache()
      val before = jobs(layer)
      val cpu0 = cpuS(layer)
      val t0 = System.nanoTime()
      t.span(s"module#$n", 0L, layer)(_ =>
        body.write.mode("overwrite").parquet(path))
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(100) // let the listener bus deliver the jobs' events
      val df = spark.read.parquet(path)
      val rows = prep(df.count())
      out.add(key(layer, "s"), secs)
      out.add(key(layer, "jobs"), jobs(layer) - before)
      out.add(key(layer, "cpu_s"), cpuS(layer) - cpu0)
      (df, rows)
    }
    /** untimed preparation between calls, in a span of its own */
    def prep[T](body: => T): T = t.span(s"module#$n", 0L, "prep")(_ => body)
    /** `df` stored as an intermediate, untimed */
    def stage(df: DataFrame): DataFrame = {
      n += 1
      val path = s"$stored/$n"
      prep(df.write.mode("overwrite").parquet(path))
      spark.read.parquet(path)
    }
    private def jobs(layer: String): Double =
      Option(t.layers.acc.get(layer)).map(_.jobs.sum.toDouble).getOrElse(0.0)
    private def cpuS(layer: String): Double =
      Option(t.layers.acc.get(layer)).map(_.cpuNs.sum / 1e9).getOrElse(0.0)
    /** `<module>.<function>_<metric>`, or `<layer>.<metric>` for a
      * one-word layer
      */
    private def key(layer: String, metric: String): String =
      if (layer.contains('.')) s"${layer}_$metric" else s"$layer.$metric"
  }

  def run(layers: Seq[Ctx => Unit], x: Ctx): Unit = {
    layers.foreach(_(x))
    x.spark.catalog.clearCache()
  }

  /** the media layers, over the corpus x91 reads */
  def media(x: Ctx): Unit = {
    import x._
    val media = spark.read.parquet(s"$data/media.parquet")
    val (ext, _) = call("multimodal.extract")(Multimodal.mediaExtractAll(media))
    val img = ext.select(col("media_id"), col("kind"), col("phash64"))
    val aud = ext.select(col("media_id"), col("kind"), col("audiofp64"))
    val vid = ext.filter(col("fr_phash64").isNotNull).select(col("media_id"),
      posexplode(col("fr_phash64")).as(Seq("frame_idx", "fphash64")))
    val (_, pairs) = call("multimodal.edges")(Multimodal.hammingNearDupFrom(
      img, "phash64", 7, 8, Dedup.MaxBucket))
    val (imgE, ni) = call("multimodal.edges")(
      Multimodal.hammingCcEdges(img, "phash64", 7, 8))
    val (audE, na) = call("multimodal.edges")(
      Multimodal.hammingCcEdges(aud, "audiofp64", 7, 8))
    val (vidE, nv) = call("multimodal.edges")(
      Multimodal.videoNearDupFrom(vid).select(col("id_a"), col("id_b")))
    out.add("multimodal.edges", (pairs + ni + na + nv).toDouble)
    val edges = imgE.unionAll(audE).unionAll(vidE)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    call("dedup.cc")(Dedup.clusterLabels(
      ext.select(col("media_id").as("doc_id")), edges))
    out.add("dedup.cc_edges_in", (ni + na + nv).toDouble)
    val stats = ext.select(col("media_id"), col("kind"), col("dec_width"),
      col("dec_height"), col("dec_brightness"), col("dec_duration_ms"),
      col("dec_sample_rate"), col("dec_amp_mean"))
    call("multimodal.funnel")(
      Multimodal.mediaCurationFunnelFrom(stats, img, aud, vid))
  }

  /** the text layers, over the corpus the stream gates read */
  def text(x: Ctx): Unit = {
    import x._
    val docs = graft.core.Tables.load(spark, data, "documents")
    val embs = graft.core.Tables.load(spark, data, "embeddings")
    call("functions.minhash")(Dedup.bandsInRow(docs))
    call("functions.winnow")(TextOps.winnowFingerprints(docs))
    call("functions.cosine")(
      Similarity.bruteForceTopKNative(embs, nQueries = 10, k = 5))
    val (cand, nCand) = call("dedup.candidates")(Dedup.candidatePairs(docs))
    val (jac, _) = call("dedup.candidates")(Dedup.jaccardOnCandidates(docs))
    val kept = prep(jac.filter(col("jaccard") >= KeepJaccard).count())
    out.add("dedup.candidate_pairs", nCand.toDouble)
    out.add("dedup.verify_yield",
      if (nCand == 0) 0.0 else kept.toDouble / nCand)
    call("dedup.cc")(Dedup.clusterLabels(docs.select(col("doc_id")), cand))
    out.add("dedup.cc_edges_in", nCand.toDouble)
    val corpus = embs.filter(col("vec_id") % 10 =!= 0)
    val comms = stage(Similarity.knnCommunityLabels(corpus, minCos = MinCos,
      k = 5, nBands = LshBands, bitsPerBand = LshBits))
    call("similarity.assign")(Similarity.assignToCommunities(corpus, comms,
      embs.filter(col("vec_id") % 10 === 0), minCos = MinCos,
      nBands = LshBands, bitsPerBand = LshBits))
  }

  /** the catalog layers st04's incremental health folds over */
  def catalog(x: Ctx): Unit = {
    import x._
    val cats = Seq(new FixtureCatalog(s"$fixtures/meta"),
    new RestPayloadCatalog(s"$fixtures/rest"),
    new GluePayloadCatalog(s"$fixtures/glue"))
    cats.foreach { cat =>
      call("meta.load")(cat.listing(spark))
      call("meta.load")(cat.snapshots(spark))
      call("meta.load")(cat.schemaVersions(spark))
    }
    val cat = cats.head
    val asOf = Model.AsOfMs
    val (m, _) = call("analytics.health")(
      Health.tableMetrics(cat.snapshots(spark), cat.tableMeta(spark), asOf))
    call("analytics.health")(Health.healthScore(m))
    val (al, _) = call("analytics.health")(Health.alerts(m, asOf))
    call("analytics.health")(Health.recommendations(al, cat.tableMeta(spark)))
    call("ops")(MetaOps.schemaEvolution(cat.schemaVersions(spark), "c_glue",
      "ml", "training_runs"))
    call("ops")(MetaOps.treeFilterCounts(cat.listing(spark), "orders"))
    call("ops")(MetaOps.timeTravel(cat.snapshots(spark), cat.tableMeta(spark),
      asOf - 3L * 86400000L))
  }
}
