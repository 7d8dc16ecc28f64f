package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The closed-loop query workload (`dashboard`): one client, no think
  * time, cycling a seed-fixed order of registry queries.
  */
object QueryLoop {

  /** One timed execution: the `SparkEntry.queries(name)(spark, dir)` call
    * (plan build, plus any eager memo or staging work) and the noop write.
    */
  final case class Exec(query: String, cycle: Int, buildMs: Double,
                        execMs: Double, ok: Boolean, fingerprint: String,
                        ops: Map[String, Long])

  /** Runs `name` once: build, then a noop write of the result with an
    * order-independent fingerprint (row count plus two folds of a 64-bit
    * row hash) observed in the same pass.
    */
  def execute(spark: SparkSession, tracer: Tracer, ctx: Context, name: String,
              dir: String, cycle: Int, sink: DataFrame => Unit = noop): Exec = {
    spark.sparkContext.setLocalProperty(Trace.ScopeProp, name)
    val before = ctx.ops.map(_.counters(name))
    ctx.ops.foreach(_.resetPeak(name))
    val obs = new Observation(s"fp_${ctx.nextId()}")
    val t0 = System.nanoTime()
    var t1 = 0L
    var t2 = 0L
    val fp =
      try {
        val df = tracer.span("ops", s"build:$name", name) {
          SparkEntry.queries(name)(spark, dir)
        }
        t1 = System.nanoTime()
        tracer.span("ops", s"exec:$name", name)(sink(fingerprinted(df, obs)))
        t2 = System.nanoTime()
        val m = obs.get
        Some(Seq("n", "hsum", "hxor").map(k => String.valueOf(m.getOrElse(k, null))).mkString("/"))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] FAIL $name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
          None
      }
    val end = System.nanoTime()
    if (t1 == 0L) t1 = end
    if (t2 == 0L) t2 = end
    val ops = before.map { b =>
      ctx.drainBus()
      ctx.ops.get.counters(name).since(b)
    }.getOrElse(Map.empty[String, Long])
    spark.sparkContext.setLocalProperty(Trace.ScopeProp, null)
    Exec(name, cycle, (t1 - t0) / 1e6, (t2 - t1) / 1e6, fp.isDefined,
      fp.getOrElse(""), ops)
  }

  val noop: DataFrame => Unit =
    _.write.format("noop").mode("overwrite").save()

  /** Hashable form of a column: maps are not hashable, so they hash
    * through their JSON form.
    */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => to_json(c)
    case _ => c
  }

  def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.map(f => hashable(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    df.observe(obs,
      count(lit(1)).as("n"),
      sum(pmod(h, lit(2147483647L))).as("hsum"),
      bit_xor(h).as("hxor"))
  }

  /** Runs the workload: two untimed cycles at the timed scale, then whole
    * cycles until `seconds` have passed. The first untimed cycle pays the
    * first-execution costs (JIT, codegen) and writes each
    * result as parquet for the oracle check; the second moves the timed
    * cycles past the steepest part of the JIT warm-up.
    * Every execution's result fingerprint must match the first untimed
    * cycle's.
    */
  def run(spark: SparkSession, tracer: Tracer, ctx: Context, dataDir: String,
          queries: Seq[String]): Map[String, Any] = {
    val order = new scala.util.Random(ctx.seed).shuffle(queries)
    val setup = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally setup(name) = (System.nanoTime() - t0) / 1e9
    }
    val resultsDir = s"${ctx.workDir}/results"
    def cycle(dir: String, n: Int, write: Boolean = false): Seq[Exec] =
      order.map { q =>
        val sink: DataFrame => Unit =
          if (write) _.write.mode("overwrite").parquet(s"$resultsDir/$q") else noop
        execute(spark, tracer, ctx, q, dir, n, sink)
      }
    val untimed = phase("untimed_cycles")(cycle(dataDir, -1, write = true) ++ cycle(dataDir, -1))
    ctx.markSetupDone()

    val execs = mutable.ArrayBuffer.empty[Exec]
    val cycles = mutable.ArrayBuffer.empty[Double]
    ctx.jvm.resetPeaks()
    val gc0 = ctx.jvm.gcMs()
    val w0 = System.nanoTime()
    val windowStartUs = tracer.nowUs()
    var n = 0
    while (System.nanoTime() - w0 < ctx.seconds * 1e9) {
      val c0 = System.nanoTime()
      execs ++= cycle(dataDir, n)
      cycles += (System.nanoTime() - c0) / 1e9
      n += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val gcMs = ctx.jvm.gcMs() - gc0
    val heapPeakMb = ctx.jvm.heapPeakMb()
    val liveHeapMb = ctx.jvm.liveHeapMb()

    val mismatched = (untimed ++ execs).groupBy(_.query).collect {
      case (q, es) if es.filter(_.ok).map(_.fingerprint).distinct.size > 1 => q
    }.toSeq.sorted
    Map(
      "setup_phases" -> setup,
      "scale_dir" -> dataDir,
      "window_s" -> windowS,
      "window_us" -> Seq(windowStartUs, windowStartUs + (windowS * 1e6).toLong),
      "order" -> order,
      "execs" -> execs,
      "cycles_s" -> cycles,
      "untimed" -> untimed,
      "results_dir" -> resultsDir,
      "oracle_sql" -> queries.map(q => q -> SparkEntry.oracleSql.get(q)).toMap,
      "repetition_mismatch" -> mismatched,
      "jvm" -> Map("gc_ms" -> gcMs, "heap_peak_mb" -> heapPeakMb, "live_heap_mb" -> liveHeapMb))
  }
}
