package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.GraftSession

/** The benchmark's JVM side: one closed-loop client thread drives the
  * library's public query surface (`SparkEntry.queries`) over inputs the
  * Python runner staged, and writes one result record.
  *
  * Usage (normally started by `perfbench/run.py`):
  * {{{
  * java ... perfbench.Harness workload=<name> data=<dir> out=<dir>
  *   fixtures=<dir> seconds=<s> seed=<n> trace=<0|1>
  * }}}
  */
object Harness {

  type Op = (SparkSession, String) => DataFrame

  /** What one pass counts as its items. */
  sealed trait Items
  /** the rows of the staged media table */
  case object MediaFiles extends Items
  /** the summed `numInputRows` of the warm-up pass's micro-batches */
  case object StreamRows extends Items

  /** A workload: the ops one pass runs (`SparkEntry.queries` names or
    * their `xNN` prefixes), what a pass counts as items, and the module
    * layers its traced run calls. Its inputs are staged by the runner
    * (`perfbench/inputs.py`); every staged table is registered.
    */
  final case class Workload(ops: Seq[String], items: Items,
      layers: Seq[Modules.Ctx => Unit])

  val Workloads: Map[String, Workload] = Map(
    "media_curation" -> Workload(Seq("x91"), MediaFiles, Seq(Modules.media)),
    "stream_ingest" -> Workload(
      Seq("st01", "st04", "st11", "st14", "st15", "st19"), StreamRows,
      Seq(Modules.text, Modules.catalog)))

  /** untimed passes after the set-up, so the timed ones start with the
    * JIT settled
    */
  val WarmPasses = 1
  /** timed passes a run makes at least, however long they take */
  val MinPasses = 3

  /** the query names (or their `xNN` prefixes) a workload runs */
  private def resolve(names: Seq[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    names.map(p => all.find(q => q == p || q.startsWith(p + "_")).getOrElse(
      sys.error(s"no query named $p in SparkEntry.queries")))
  }

  final case class Conf(workload: String, data: String, out: String,
      fixtures: String, seconds: Double, seed: Long, trace: Boolean)

  private def parse(args: Array[String]): Conf = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    Conf(kv("workload"), kv("data"), kv("out"), kv("fixtures"),
      kv("seconds").toDouble, kv("seed").toLong, kv("trace") == "1")
  }

  private def cores: String = Runtime.getRuntime.availableProcessors.toString

  private def session(c: Conf): SparkSession = {
    val s = GraftSession.builder("perfbench", cores)
      .config("spark.local.dir", s"${c.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** checkpoint / spill directories the program creates per operator */
  private val ckptRoots = Seq(Paths.get("/dev/shm"), Paths.get("/tmp"))
  private def ckptDirs(): Set[Path] = ckptRoots.filter(Files.isDirectory(_))
    .flatMap { r =>
      val st = Files.list(r)
      try st.iterator.asScala.filter(_.getFileName.toString
        .startsWith("graft-ckpt-")).toList
      finally st.close()
    }.toSet

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => Files.size(f)).sum
      finally st.close()
    }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("gen-media")) {
      // gen-media <out> <images>: the program's own media corpus generator
      val s = GraftSession.builder("perfbench-gen", "4").getOrCreate()
      graft.llm.MediaCorpus.write(s, args(1), args(2).toLong)
      stopSession(s)
      System.exit(0)
    }
    val c = parse(args)
    val code = try { run(c); 0 } catch {
      case t: Throwable =>
        t.printStackTrace()
        2
    }
    // the program registers JVM-exit hooks that delete its spill dirs
    System.exit(code)
  }

  /** Tracing state of a traced run; null in an untraced one. */
  final class Tracer(val spark: SparkSession) {
    val spans = new Spans
    val layers = new LayerListener(spans)
    val plans = new PlanListener
    val streams = new StreamListener
    var leakedPersists = 0L
    var leakedDirs = 0L
    var checkpointBytes = 0L

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(layers)
      spark.listenerManager.register(plans)
      spark.streams.addListener(streams)
    }
    def detach(): Unit = {
      spark.sparkContext.removeSparkListener(layers)
      spark.listenerManager.unregister(plans)
      spark.streams.removeListener(streams)
    }

    /** run `body` as one span of `layer`; jobs it starts are attributed
      * to `layer` and parented to the span
      */
    def span[T](trace: String, parent: Long, layer: String,
        attrs: => Map[String, Double] = Map.empty)(body: Long => T): T = {
      val sc = spark.sparkContext
      val id = spans.nextId()
      val prev = (sc.getLocalProperty("perfbench.layer"),
        sc.getLocalProperty("perfbench.span"))
      sc.setLocalProperty("perfbench.layer", layer)
      sc.setLocalProperty("perfbench.span", id.toString)
      sc.setLocalProperty("perfbench.trace", trace)
      val t0 = spans.now
      try body(id)
      finally {
        spans.add(Span(id, parent, trace, layer, t0, spans.now, attrs))
        sc.setLocalProperty("perfbench.layer", prev._1)
        sc.setLocalProperty("perfbench.span", prev._2)
      }
    }
  }

  final case class OpResult(ms: Double, error: Option[String])

  /** one op as the three calls the benchmark times: build the frame,
    * plan it, execute it with a `noop` write
    */
  private def runOp(spark: SparkSession, name: String, fn: Op, dir: String,
      tracer: Tracer, trace: String): OpResult = {
    spark.catalog.clearCache()
    val before = if (tracer != null) ckptDirs() else Set.empty[Path]
    val t0 = System.nanoTime()
    val err = try {
      if (tracer == null) {
        val df = fn(spark, dir)
        df.queryExecution.executedPlan
        df.write.format("noop").mode("overwrite").save()
      } else tracer.span(trace, 0L, s"op.$name") { root =>
        val df = tracer.span(trace, root, "build")(_ => fn(spark, dir))
        tracer.span(trace, root, "plan") { _ =>
          df.queryExecution.executedPlan
          tracer.plans.add(df.queryExecution)
        }
        tracer.span(trace, root, "exec")(_ =>
          df.write.format("noop").mode("overwrite").save())
      }
      None
    } catch {
      case t: Throwable => Some(s"${t.getClass.getSimpleName}: ${t.getMessage}")
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracer != null) {
      tracer.leakedPersists += spark.sparkContext.getPersistentRDDs.size
      val fresh = ckptDirs() -- before
      tracer.leakedDirs += fresh.size
      tracer.checkpointBytes += fresh.toSeq.map(dirBytes).sum
    }
    OpResult(ms, err)
  }

  def run(c: Conf): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = Paths.get(c.out)
    Files.createDirectories(out)
    HeapPeak.install()
    val wl = Workloads(c.workload)
    val ops = resolve(wl.ops)
    val queries = SparkEntry.queries

    // ---- set-up, once, as a user pays it: session build, table
    // registration, stored-artifact builds and the warm-up pass, which
    // also writes each op's output for the oracle check
    val warmErrors = mutable.LinkedHashMap.empty[String, String]
    val streamRows = new StreamListener
    val spark = session(c)
    val staged = {
      val st = Files.list(Paths.get(c.data))
      try st.iterator.asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
        .toList.sorted
      finally st.close()
    }
    staged.foreach(t =>
      graft.core.Tables.load(spark, c.data, t).createOrReplaceTempView(t))
    spark.streams.addListener(streamRows)
    ops.foreach { name =>
      spark.catalog.clearCache()
      try queries(name)(spark, c.data).write.mode("overwrite")
        .parquet(s"${c.out}/outputs/$name")
      catch {
        case t: Throwable =>
          warmErrors(name) = s"${t.getClass.getSimpleName}: ${t.getMessage}"
      }
    }
    val setupEndMs = System.currentTimeMillis()
    Thread.sleep(200) // let the stream listener bus drain
    spark.streams.removeListener(streamRows)
    // items one pass completes
    val itemsPerPass: Double = wl.items match {
      case MediaFiles => spark.read.parquet(s"${c.data}/media.parquet").count()
        .toDouble
      case StreamRows => streamRows.inputRows.sum.toDouble
    }
    spark.catalog.clearCache()

    // ---- timed passes: a closed loop, one op after another
    val passS = mutable.ArrayBuffer.empty[Double]
    val passCpuS = mutable.ArrayBuffer.empty[Double]
    val opMs = mutable.ArrayBuffer.empty[Double]
    val byOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val tracedPassS = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    var pass = 0
    val tracer = if (c.trace) new Tracer(spark) else null

    def onePass(tr: Tracer, lat: mutable.ArrayBuffer[Double],
        cpu: mutable.ArrayBuffer[Double]): Double = {
      val t0 = System.nanoTime()
      val cpu0 = cpuNs()
      ops.foreach { name =>
        val r = runOp(spark, name, queries(name), c.data, tr,
          s"$name#$pass")
        attempted += 1
        lat += r.ms
        if (tr == null) byOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += r.ms
        r.error.foreach { e => failed += 1; failures(name) = e }
      }
      cpu += (cpuNs() - cpu0) / 1e9
      pass += 1
      (System.nanoTime() - t0) / 1e9
    }

    val warmPassS = (1 to WarmPasses).map(_ =>
      onePass(null, mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
    // the counts cover timed ops only; a warm pass's failure stays named
    byOp.clear()
    attempted = 0
    failed = 0
    System.gc()
    HeapPeak.reset()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    if (tracer == null)
      while (passS.size < MinPasses || elapsed < c.seconds) {
        passS += onePass(null, opMs, passCpuS)
        System.gc() // a full collection per pass: the live set is sampled
      }
    else {
      // a traced run alternates untraced and traced passes, so the
      // tracing overhead compares passes equally far into the run
      val tracedLat, tracedCpu = mutable.ArrayBuffer.empty[Double]
      def traced(): Unit = {
        tracer.attach()
        tracedPassS += onePass(tracer, tracedLat, tracedCpu)
        Thread.sleep(200) // let the listener bus deliver the pass's events
        tracer.detach()
        System.gc()
      }
      def untraced(): Unit = {
        passS += onePass(null, opMs, passCpuS)
        System.gc()
      }
      // pairs in ABBA order, so a drift over the run cancels out
      while (tracedPassS.size < MinPasses || elapsed < c.seconds) {
        if (tracedPassS.size % 2 == 0) { untraced(); traced() }
        else { traced(); untraced() }
      }
    }
    val heapPeakMb = HeapPeak.peakBytes / 1048576.0
    val gcCount = HeapPeak.gcCount

    val layerOut = mutable.LinkedHashMap.empty[String, Double]
    if (tracer != null) {
      tracer.attach()
      val modules = new ModuleStats
      Modules.run(wl.layers, new Modules.Ctx(spark, c, tracer, modules))
      Thread.sleep(500)
      tracer.detach()
      layerOut ++= layerMetrics(tracer, tracedPassS.size, modules)
      layerOut("trace.overhead_s") = median(tracedPassS.toSeq) -
        median(passS.toSeq)
      layerOut("trace.spans") = tracer.spans.all.size.toDouble
      tracer.spans.write(out.resolve("spans.jsonl"))
    }

    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> cores,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"), Json.strMap(oracle))
    val rec = Json.obj(Seq(
      "workload" -> Json.str(c.workload),
      "seed" -> c.seed.toString,
      "ops" -> Json.arr(ops.map(Json.str)),
      "jvm_start_ms" -> jvmStartMs.toString,
      "setup_end_ms" -> setupEndMs.toString,
      "warm_pass_s" -> Json.nums(warmPassS),
      "items_per_pass" -> Json.num(itemsPerPass),
      "pass_s" -> Json.nums(passS.toSeq),
      "pass_cpu_s" -> Json.nums(passCpuS.toSeq),
      "traced_pass_s" -> Json.nums(tracedPassS.toSeq),
      "op_ms" -> Json.nums(opMs.toSeq),
      "op_ms_by_op" -> Json.obj(byOp.toSeq.map { case (k, v) =>
        k -> Json.nums(v.toSeq) }),
      "heap_peak_mb" -> Json.num(heapPeakMb),
      "gc_count" -> gcCount.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.strMap(failures),
      "warmup_failures" -> Json.strMap(warmErrors),
      "layers" -> Json.numMap(layerOut),
      "host" -> Json.strMap(host)))
    Files.writeString(out.resolve("result.json"), rec)
    spark.catalog.clearCache()
    stopSession(spark)
  }

  private def layerMetrics(t: Tracer, passes: Int,
      modules: ModuleStats): Seq[(String, Double)] = {
    val per = math.max(1, passes).toDouble
    def layer(l: String) = Option(t.layers.acc.get(l))
    def sum(l: String)(f: ExecAcc => Double) = layer(l).map(f).getOrElse(0.0)
    val spans = t.spans.all
    def spanS(l: String) =
      spans.filter(_.name == l).map(s => (s.end - s.start) / 1e6).sum / per
    val mb = 1048576.0
    val e = "exec"
    val plan = t.plans.phaseNs.asScala.map { case (k, v) => k -> v.sum / 1e9 }
    val sd = t.streams.durMs.asScala.map { case (k, v) => k -> v.sum / 1e3 }
    Seq(
      "build.s" -> spanS("build"),
      "build.jobs" -> sum("build")(_.jobs.sum.toDouble) / per,
      "build.cpu_s" -> sum("build")(_.cpuNs.sum / 1e9) / per,
      "catalyst.analysis_s" -> plan.getOrElse("analysis", 0.0) / per,
      "catalyst.optimization_s" -> plan.getOrElse("optimization", 0.0) / per,
      "catalyst.planning_s" -> plan.getOrElse("planning", 0.0) / per,
      "exec.s" -> spanS("exec"),
      "exec.jobs" -> sum(e)(_.jobs.sum.toDouble) / per,
      "exec.stages" -> sum(e)(_.stages.sum.toDouble) / per,
      "exec.tasks" -> sum(e)(_.tasks.sum.toDouble) / per,
      "exec.cpu_s" -> sum(e)(_.cpuNs.sum / 1e9) / per,
      "exec.run_s" -> sum(e)(_.runMs.sum / 1e3) / per,
      "exec.sched_delay_s" -> sum(e)(_.schedMs.sum / 1e3) / per,
      "exec.gc_s" -> sum(e)(_.gcMs.sum / 1e3) / per,
      "exec.shuffle_read_mb" -> sum(e)(_.shuffleRead.sum / mb) / per,
      "exec.shuffle_write_mb" -> sum(e)(_.shuffleWrite.sum / mb) / per,
      "exec.spill_mb" -> sum(e)(_.spill.sum / mb) / per,
      "exec.peak_exec_mem_mb" -> sum(e)(_.peakExecMem.get / mb),
      "exec.input_rows" -> sum(e)(_.inputRows.sum.toDouble) / per,
      "cache.leaked_persists" -> t.leakedPersists / per,
      "cache.peak_mb" -> t.layers.cachedPeak.get / mb,
      "cache.spill_dirs_leaked" -> t.leakedDirs / per,
      "stream.batches" -> t.streams.batches.sum / per,
      "stream.input_rows" -> t.streams.inputRows.sum / per,
      "stream.latest_offset_s" -> sd.getOrElse("latestOffset", 0.0) / per,
      "stream.get_batch_s" -> sd.getOrElse("getBatch", 0.0) / per,
      "stream.query_planning_s" -> sd.getOrElse("queryPlanning", 0.0) / per,
      "stream.add_batch_s" -> sd.getOrElse("addBatch", 0.0) / per,
      "stream.wal_commit_s" -> sd.getOrElse("walCommit", 0.0) / per,
      "stream.commit_offsets_s" -> sd.getOrElse("commitOffsets", 0.0) / per,
      "stream.state_rows" -> t.streams.stateRows.sum / per,
      "stream.state_mem_mb" -> t.streams.stateMem.sum / mb / per,
      "stream.checkpoint_mb" -> t.checkpointBytes / mb / per
    ) ++ Modules.names.map(n => n -> modules.values.getOrElse(n, 0.0))
  }
}
