package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** JVM heap and GC readings taken from the platform MXBeans. */
final class JvmStats {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMs(): Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap still reachable after full collections: what the run retains.
    * Spark's context cleaner frees the blocks of unreachable broadcasts on
    * its own thread, after a collection has found them; so this collects
    * again, after a pause for the cleaner, until two readings agree to
    * 1 MB (at most five rounds).
    */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      System.runFinalization()
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = Double.MaxValue
    var cur = collect()
    var rounds = 1
    while (prev - cur > 1.0 && rounds < 5) {
      Thread.sleep(200)
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  /** Records every collection as a `jvm` span (traced runs only). */
  def traceGc(tracer: Tracer): Unit = if (tracer.enabled) {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val ids = new AtomicLong(0)
    gcs.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          override def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val g = info.getGcInfo
              tracer.add(Span(s"gc/${ids.incrementAndGet()}", "", "jvm",
                s"gc:${info.getGcName}", (jvmStartMs + g.getStartTime) * 1000L,
                (jvmStartMs + g.getEndTime) * 1000L, ""))
            }
        }, null, null)
      case _ => ()
    }
  }
}

/** What every workload needs: its arguments, directories and meters. */
final class Context(val spark: SparkSession, val seed: Long, val seconds: Int,
                    val workDir: String,
                    val ops: Option[OpsListener], val jvm: JvmStats) {
  private val ids = new AtomicLong(0)
  @volatile var setupDoneMs: Long = 0L

  def nextId(): Long = ids.incrementAndGet()

  def drainBus(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def markSetupDone(): Unit = setupDoneMs = System.currentTimeMillis()
}

/** Benchmark JVM entry point; `run.py` starts it and turns the report it
  * writes into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <cpus> <dataRoot>
  *             <workDir> <reportPath>
  */
object Main {
  val dashboard: Seq[String] = Seq("global_totals", "share_of_total",
    "revenue_by_type_desc", "hourly_trend", "rollup_hourly", "rollup_daily",
    "rollup_compact", "filter_project", "json_extract", "top_orders",
    "q1_pricing_summary", "q3_top_unshipped", "q5_region_revenue")

  val DashboardScale = "sf0.01"

  def session(cpus: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[SessionListener].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cpusS, dataRoot, workDir, reportPath) = args
    Files.createDirectories(Paths.get(workDir))
    val spark = session(cpusS.toInt, workDir)
    val traced = traceS == "1"
    val tracer = new Tracer(traced, spark.sparkContext)
    val jvm = new JvmStats
    jvm.traceGc(tracer)
    val progress = new ProgressListener(tracer)
    SessionListener.target = Some(progress)
    val ops = if (traced) {
      val l = new OpsListener(tracer, progress.nameOf)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = new Context(spark, seedS.toLong, secondsS.toInt, workDir, ops, jvm)
    val body: Map[String, Any] = workload match {
      case "dashboard" =>
        QueryLoop.run(spark, tracer, ctx, s"$dataRoot/$DashboardScale", dashboard)
      case "pipeline" => Pipeline.run(spark, tracer, ctx, progress)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.drainBus()
    val report = body ++ Map(
      "workload" -> workload,
      "cpus" -> cpusS.toInt,
      "setup_done_ms" -> ctx.setupDoneMs,
      "vm_hwm_kb" -> vmHwmKb(),
      "spans" -> tracer.all)
    Files.writeString(Paths.get(reportPath),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(report))
    spark.stop()
  }

  /** Peak resident set size of this process (`VmHWM`, kB). */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}
