package perfbench

import graft.SparkEntry
import graft.pipelines.Pipelines
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one pass of each workload runs. Each list is a subset of its
  * family, sized so that a run (set-up, three passes, checks) takes 25–45 s
  * on four cores; see perfbench/README.md. */
object Workloads {
  /** Iterative graph queries: eager lineage-cut rounds and a re-plan per
    * round, almost no state and little sink work. */
  val GraphLoops: Seq[String] = Seq(
    "q_bfs_hops", "q_hits", "q_kcore", "q_pagerank_weighted")

  /** Stream queries: micro-batch scheduling, state-store and WAL commits. */
  val StreamState: Seq[String] = Seq(
    "q_stream_dedup", "q_stream_interval_join", "q_stream_outer_join",
    "q_stream_volume_hourly")

  /** The reference's four enrichers, as the program's pipeline calls. */
  val Pipes: Seq[(String, (SparkSession, String, String) => Unit)] = Seq(
    "rawLoad" -> Pipelines.rawLoad,
    "enrichWallets" -> Pipelines.enrichWallets,
    "enrichDapps" -> Pipelines.enrichDapps,
    "enrichTokens" -> Pipelines.enrichTokens)

  /** Catalog queries per workload; `token_etl_scaled` runs `Pipes`. */
  val Queries: Map[String, Seq[String]] = Map(
    "graph_loops" -> GraphLoops,
    "stream_state" -> StreamState,
    "token_etl_scaled" -> Nil)

  /** Shared frames (parts of `graft.Bench`'s warm-up) that the workload's
    * queries read, built at the head of the cold pass. */
  def shared(workload: String): Seq[(String, (SparkSession, String) => DataFrame)] =
    if (workload == "graph_loops") graft.PerfbenchShared.parts else Nil
}

/** The session exactly as `graft.Bench.main` builds it. */
object Session {
  def build(cores: Int): SparkSession = {
    val cpus = cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "4")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      Files.createTempDirectory("graft-ckpt").toString)
    spark
  }
}

/** One benchmark run: set up a fresh session seven times, then run a
  * cold pass and warm passes of one workload, one operation after another,
  * and write a record of every operation and pass to `<out>/run.json`.
  *
  * {{{
  * Harness --workload W --cores C --data SF_DIR --out DIR --seconds S
  *         --trace 0|1 --budget B [--input SCALED_DIR]
  * Harness --dump FILE     (operation lists and oracle SQL, no session)
  * }}}
  */
object Harness {

  final case class OpRec(name: String, seconds: Double, error: Option[String])

  private implicit val formats: Formats = DefaultFormats
  private def json(v: AnyRef): String = Serialization.write(v)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump") match {
      case Some(file) => dump(file)
      case None => run(args)
    }
  }

  private def dump(file: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val qs = Workloads.Queries.values.flatten.toSeq.distinct
    val missing = qs.filterNot(oracle.contains)
    require(missing.isEmpty, s"queries without oracle SQL: ${missing.mkString(", ")}")
    Files.writeString(Paths.get(file), json(Map(
      "workloads" -> Workloads.Queries,
      "pipelines" -> Workloads.Pipes.map(_._1),
      "oracle" -> qs.map(q => q -> oracle(q)).toMap)))
  }

  private def dirStats(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_"))
        .toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  /** Hard-link copy of a store as it stands after a pass: the next upsert
    * replaces the store's files, so the links keep this pass's version. */
  private def snapshot(src: Path, dst: Path): Unit =
    if (Files.exists(src)) Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.createLink(t, p)
    }

  /** Heap in use after a full collection. Spark's context cleaner frees
    * unreferenced broadcasts, shuffles and cached blocks only after a
    * collection has found them, so collect, let it run, and collect again. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
  }

  private def run(args: Map[String, String]): Unit = {
    val t00 = System.nanoTime()
    val workload = args("workload")
    val cores = args("cores").toInt
    val data = args("data")
    val out = Paths.get(args("out"))
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val budget = args("budget").toDouble
    val etl = workload == "token_etl_scaled"
    val input = if (etl) args("input") else data
    Files.createDirectories(out)
    val queries = Workloads.Queries(workload)
    val fns = SparkEntry.queries
    val sharedParts = Workloads.shared(workload)

    // set-up, seven times: a fresh session, its extensions and checkpoint
    // dir, and its first job; the last session built is the one the passes use
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to 7).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.build(cores)
      spark.range(0, 1000, 1, cores).selectExpr("sum(id)").collect()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val heap0 = heapAfterGcMb()

    val tracer = new Tracer
    val listeners = new Listeners(spark)
    val derived = mutable.ArrayBuffer.empty[Span]
    val storeRoot = out.resolve("store")

    def release(): Unit = {
      graft.ops.QueryLocal.release(spark)
      graft.streaming.StreamState.unloadQuietly()
      graft.util.TempDirs.sweep()
    }
    def timed(name: String)(body: => Unit): OpRec = {
      val t0 = System.nanoTime()
      val err = try { tracer.span("op", name)(body); None }
        catch { case t: Throwable => Some(s"${t.getClass.getName}: ${t.getMessage}") }
      OpRec(name, (System.nanoTime() - t0) / 1e9, err)
    }

    def runPass(idx: Int, kind: String, trace: Boolean): Map[String, Any] = {
      val cold = kind == "cold"
      listeners.attach(trace)
      tracer.enabled = trace
      tracer.pass = idx
      val dir = out.resolve(s"pass$idx")
      val t0 = System.nanoTime()
      val shared = if (!cold) Nil else {
        val rs = sharedParts.map { case (part, build) =>
          timed(s"shared:$part") {
            tracer.span(s"ops.Shared.$part", part) { build(spark, data).count() }
          }
        }
        // frames the builds tracked as query-local stay alive, as in Bench
        graft.ops.QueryLocal.drain(spark)
        rs
      }
      val ops = if (etl) Workloads.Pipes.map { case (name, fn) =>
        val r = timed(name) {
          tracer.span(s"pipelines.$name", name) { fn(spark, input, storeRoot.toString) }
        }
        release(); r
      } else queries.map { q =>
        val r = timed(q) {
          val df = tracer.span("SparkEntry.build", q) { fns(q)(spark, data) }
          if (trace) listeners.catalyst.record(df.queryExecution, fromAction = false)
          tracer.span("io.write", q) {
            df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(q).toString)
          }
        }
        release(); r
      }
      val secs = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
      listeners.attach(false)
      if (etl) Files.list(storeRoot).iterator().asScala.toSeq
        .filter(p => Files.isDirectory(p) && !p.getFileName.toString.contains("__"))
        .foreach(p => snapshot(p, dir.resolve("stores").resolve(p.getFileName.toString)))
      val (bytes, files) = dirStats(if (etl) dir.resolve("stores") else dir)
      val storageMb = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6
      val layers = if (!trace) Map.empty[String, Double] else {
        val (m, d) = Layers.ofPass(tracer.spans.filter(_.pass == idx).toSeq,
          listeners, tracer, bytes, files)
        derived ++= d
        m
      }
      Map("index" -> idx, "kind" -> kind, "traced" -> trace,
        "seconds" -> secs, "output_bytes" -> bytes, "output_files" -> files,
        "heap_after_gc_mb" -> heapAfterGcMb(), "storage_mb" -> storageMb,
        "shared" -> shared.map(o => Map("name" -> o.name, "seconds" -> o.seconds, "error" -> o.error.orNull)),
        "ops" -> ops.map(o => Map("name" -> o.name, "seconds" -> o.seconds, "error" -> o.error.orNull)),
        "layers" -> layers)
    }

    // measurement: a cold pass, then warm passes until `seconds` have gone
    // by, at least two: one warm pass of a few short operations gives too
    // few samples for a steady median. A pass starts only if one more of
    // the same length still ends within the budget. A traced run alternates
    // untraced and traced warm passes, starting and ending untraced, so that
    // it can report its own tracing overhead free of the drift from one pass
    // to the next.
    val m0 = System.nanoTime()
    val passes = mutable.ArrayBuffer(runPass(0, "cold", trace = traced))
    val minWarm = if (traced) 3 else 2
    var warm = 0
    def elapsed(from: Long) = (System.nanoTime() - from) / 1e9
    def lastSecs = passes.last("seconds").asInstanceOf[Double]
    while (warm < minWarm ||
        (elapsed(m0) < seconds && elapsed(t00) + 1.5 * lastSecs < budget)) {
      warm += 1
      passes += runPass(warm, "warm", trace = traced && warm % 2 == 0)
    }

    val sc = spark.sparkContext
    val record = Map(
      "workload" -> workload, "cores" -> cores,
      "default_parallelism" -> sc.defaultParallelism, "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "setup_s" -> setupS, "heap_after_setup_mb" -> heap0,
      "passes" -> passes)
    Files.writeString(out.resolve("run.json"), json(record))
    if (traced) {
      val lines = (tracer.spans ++ derived).sortBy(s => (s.pass, s.start)).map(s => json(Map(
        "id" -> s.id, "op" -> s.op, "pass" -> s.pass, "name" -> s.name, "label" -> s.label,
        "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent)))
      Files.write(out.resolve("spans.jsonl"), lines.asJava)
    }
    spark.stop()
  }
}
