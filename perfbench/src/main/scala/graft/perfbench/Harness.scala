package graft.perfbench

import graft._
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM: set up a session the way
  * `graft.Bench` does, run every query of one workload one at a time in
  * [[Passes]] passes, each in a seeded order of its own, and write the
  * raw measurements as JSON. `perfbench/run.py` launches this and turns the
  * raw file into metrics.
  *
  * Arguments: `--workload W --seed N --trace 0|1 --data DIR --cpus N
  * --run-dir DIR --out FILE`. Everything the run writes (Spark local
  * dirs, warehouse, checkpoints, temp files) goes under `--run-dir`.
  */
object Harness {

  /** Passes over the workload in one JVM: a warm-up pass, then the timed
    * passes `run.py` takes its figures from. Each pass starts with an
    * empty `Memo`, so it repeats the workload's builds.
    */
  val Passes = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val sfDir = opt("data")
    val cpus = opt("cpus")
    val runDir = opt("run-dir")
    val cold = workload == "recsys_cold"

    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit = System.err.println(
      f"[perfbench] set-up: $name at ${(System.currentTimeMillis() - launchMs) / 1e3}%.2f s")
    phase("main")
    val orders = (0 until Passes).map(Workloads.ordered(workload, seed, _))
    val queries = orders.head

    phase("registry")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase("session")
    // The interaction log Bench persists, materialized here so that its
    // cost shows in setup_s, not in whichever query the seed puts first.
    // No graft.rel query reads the log.
    if (Workloads.readsInteractions(workload)) etl.Interactions(spark, sfDir).persist().count()
    phase("interactions")
    // Bench's IVF kernel warm-up, where the workload runs IVF queries
    if (queries.exists(_.module == "IvfQueries")) ext.IvfQueries.warmJit()
    warmUp(spark, sfDir)
    phase("warm-up")
    val memoBudget = Runtime.getRuntime.maxMemory / 3
    StageTiming.drain()
    ListenerBus.drain(spark.sparkContext)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3

    val heap = if (traced) Some(new HeapWatch) else None
    val gc0 = gcMs
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Span)]
    var memoBefore = Map.empty[String, Int]

    val passes = (0 until Passes).map { pass =>
      val last = pass == Passes - 1
      // every pass builds its memo entries again
      if (pass > 0) Memo.release(spark, sfDir)
      if (last) memoBefore = Memo.telemetry(spark).map(e => e._1 -> e._3).toMap
      // Each pass has its own tracer, installed on a drained bus, so no
      // event from before the pass reaches it.
      val tracer = if (traced) Some(new Tracer) else None
      tracer.foreach { t =>
        ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
        spark.streams.addListener(t.streaming)
      }
      def timed[A](name: String, layer: String)(body: => A): A =
        tracer.fold(body)(_.span(name, layer)(body))

      val records = orders(pass).map { q =>
        val traceId = s"$workload/$seed/${q.name}"
        tracer.foreach(_.beginQuery(traceId))
        val t0ms = tracer.map(_.now()).getOrElse(0.0)
        val t0 = System.nanoTime()
        var buildS = 0.0
        // classified as Bench.runOne does: completed, refused, failed
        val (outcome, count, msg) =
          try {
            val df = timed("build", "registry")(q.build.build(spark, sfDir))
            buildS = (System.nanoTime() - t0) / 1e9
            val n = timed("count", "action")(df.count())
            ("completed", Some(n), "")
          } catch {
            case e: QueryRefusedException => ("refused", None, String.valueOf(e.getMessage))
            case e: Throwable => ("failed", None, s"${e.getClass.getName}: ${e.getMessage}")
          }
        val wallS = (System.nanoTime() - t0) / 1e9
        val t1ms = tracer.map(_.now()).getOrElse(0.0)
        val stages = StageTiming.drain()
        val evicted = timed("enforceBudget", "memo")(Memo.enforceBudget(spark, memoBudget))
        if (cold) timed("release", "memo")(Memo.release(spark, sfDir))
        tracer.foreach { t =>
          t.settle(spark.sparkContext)
          t.endQuery(q.name, t0ms, t1ms, Map("wall_s" -> wallS))
        }
        if (outcome != "completed")
          System.err.println(s"[perfbench] ${q.name} pass ${pass + 1} ${outcome.toUpperCase}: $msg")
        QueryRecord(q.name, q.module, outcome, wallS, buildS, count, msg, stages, evicted.size)
      }
      tracer.foreach { t =>
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
        spark.streams.removeListener(t.streaming)
        spans ++= t.spans.map(pass -> _)
      }
      records
    }

    val gcS = (gcMs - gc0) / 1e3
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val peakHeapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getPeakUsage != null)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    // memo builds of the last pass, per entry
    val memo = Memo.telemetry(spark).map { case (n, b, c) => (n, b, c - memoBefore.getOrElse(n, 0)) }
    val heapLiveMb = heap.fold(Double.NaN)(_.close())

    val json = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "traced" -> traced.toString,
      "cpus" -> cpus,
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "workload_modules" -> Json.obj(Workloads.names.keys.toSeq.sorted.map { w =>
        w -> Workloads.moduleNames(w).map(Json.str).mkString("[", ",", "]")
      }: _*),
      "setup_s" -> Json.num(setupS),
      "passes" -> passes.map(_.map(_.json).mkString("[", ",", "]")).mkString("[", ",\n", "]"),
      "jvm" -> Json.obj(
        "gc_s" -> Json.num(gcS),
        "jit_s" -> Json.num(jitS),
        "peak_heap_mb" -> Json.num(peakHeapMb),
        "heap_live_mb" -> Json.num(heapLiveMb)),
      "memo" -> memo.map { case (n, b, c) =>
        Json.obj("name" -> Json.str(n), "peak_mb" -> Json.num(b / 1048576.0), "builds" -> c.toString)
      }.mkString("[", ",", "]"),
      "spans" -> spans.map { case (p, s) => spanJson(p, s) }.mkString("[", ",\n", "]"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), json)
    spark.stop()
  }

  final case class QueryRecord(name: String, module: String, outcome: String,
      wallS: Double, buildS: Double, count: Option[Long], message: String,
      stages: Seq[(String, Double)], evictions: Int) {
    def json: String = Json.obj(
      "name" -> Json.str(name),
      "module" -> Json.str(module),
      "outcome" -> Json.str(outcome),
      "wall_s" -> Json.num(wallS),
      "build_s" -> Json.num(buildS),
      "count" -> count.fold("null")(_.toString),
      "message" -> Json.str(message),
      "stages" -> Json.obj(stages.map { case (k, v) => k -> Json.num(v) }: _*),
      "evictions" -> evictions.toString)
  }

  private def spanJson(pass: Int, s: Span): String = Json.obj(
    "pass" -> pass.toString, "id" -> s.id.toString, "parent" -> s.parent.toString,
    "trace" -> Json.str(s.trace), "name" -> Json.str(s.name),
    "layer" -> Json.str(s.layer), "start_ms" -> Json.num(s.startMs),
    "end_ms" -> Json.num(s.endMs),
    "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** The untimed end-to-end warm-up `graft.Bench` runs before its timed
    * suite: a dimension scan, broadcast join, shuffle aggregate and
    * partitioned window, so codegen, the parquet reader and the shuffle
    * path are compiled before anything is timed.
    */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val nat = spark.read.parquet(s"$sfDir/nation.parquet")
    val reg = spark.read.parquet(s"$sfDir/region.parquet")
    nat.join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("c"), sum(length(col("n_name"))).as("s"))
      .withColumn("rn", row_number().over(Window.partitionBy("r_name").orderBy(col("c").desc)))
      .count()
  }
}

/** Largest heap occupancy right after a full collection while the watch
  * is open, including one explicit full collection at [[close]]. Young
  * collections are not counted: what they leave behind includes old-gen
  * garbage no collection has looked at yet, which varies with GC timing.
  */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var maxLive = 0L
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of major GC") {
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (live > maxLive) maxLive = live
        }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Stop watching after one last full collection; the largest live heap
    * in MB. The first collection clears the references Spark's
    * ContextCleaner waits on; the pause lets it drop the blocks they held
    * (broadcasts, shuffles) before the collection that is measured.
    */
  def close(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val end = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    emitters.foreach(_.removeNotificationListener(listener))
    math.max(maxLive, end) / 1048576.0
  }
}

/** Minimal JSON writer for the raw run file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
