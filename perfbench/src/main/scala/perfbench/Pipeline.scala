package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.gen.SalesGen
import graft.ingest.Ingest
import graft.model.Schemas
import graft.sources.GraftLog
import graft.storage.Storage
import graft.streaming.StreamAssembly

/** The open-loop `pipeline` workload: generator → 3-partition GraftLog
  * topic → raw + dead-letter store, hourly partials sink and the stateful
  * daily rollup, with a closed-loop dashboard reader beside them.
  */
object Pipeline {
  val Partitions = 3
  val MaxRecordsPerTrigger = 10000
  val LiveRatePerS = 500
  val TickMs = 100
  val BacklogOrders = 40000
  val MalformedShare = 0.01
  val ReaderThinkMs = 1000L

  /** A pre-generated order: its topic partition, its JSON payload and the
    * fields the reference fold needs. Malformed orders carry a truncated
    * payload.
    */
  final case class Order(idx: Int, partition: Int, json: String, malformed: Boolean,
                         completed: Boolean, category: String, region: String,
                         hourEpochS: Long, epochDay: Long, quantity: Long,
                         amount: BigDecimal)

  /** One published segment file: records `[start, end)` of a partition. */
  final case class Segment(partition: Int, start: Long, end: Long,
                           scheduledUs: Long, publishedUs: Long, phase: String)

  /** Seeded orders: the seed picks a window of SalesGen's id space and
    * which orders are malformed.
    */
  def generate(spark: SparkSession, seed: Long, n: Int): IndexedSeq[Order] = {
    val off = java.lang.Math.floorMod(seed, 1000L) * n
    val df = SalesGen.orders(spark, off + n).where(col("_gen_id") >= off)
      .withColumn("idx", (col("_gen_id") - off).cast("int"))
    val payload = to_json(struct(df.columns.filterNot(Set("_gen_id", "idx"))
      .map {
        case "order_timestamp" =>
          date_format(col("order_timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("order_timestamp")
        case c => col(c)
      }.toIndexedSeq: _*))
    val rows = df.select(col("idx"),
      pmod(hash(col("customer_id")).cast("long"), lit(Partitions.toLong)).cast("int"),
      payload, col("order_status"), col("category"), col("region"),
      unix_seconds(date_trunc("hour", col("order_timestamp"))),
      datediff(to_date(col("order_timestamp")), lit("1970-01-01").cast("date")),
      col("quantity").cast("long"), col("total_amount"))
      .collect().sortBy(_.getInt(0))
    val rnd = new scala.util.Random(seed)
    rows.toIndexedSeq.map { r =>
      val bad = rnd.nextDouble() < MalformedShare
      val json = r.getString(2)
      Order(r.getInt(0), r.getInt(1),
        if (bad) json.substring(0, json.length / 2) else json, bad,
        r.getString(3) == "completed", r.getString(4), r.getString(5),
        r.getLong(6), r.getInt(7).toLong, r.getLong(8),
        BigDecimal(r.getDouble(9).toString))
    }
  }

  /** Writes one segment per partition atomically: a dot-prefixed file
    * (invisible to GraftLog), its mtime set strictly after every earlier
    * segment's, then a rename. Every event is stamped with its publish time.
    */
  final class Publisher(topic: String, tracer: Tracer) {
    private val next = Array.fill(Partitions)(0L)
    private var lastMtime = 0L
    private var seq = 0
    val segments = mutable.ArrayBuffer.empty[Segment]

    def offsets: Seq[Long] = next.toSeq

    def advance(p: Int, n: Long): Unit = next(p) += n

    def publish(orders: Seq[Order], scheduledUs: Long, phase: String): Unit =
      tracer.span("gen", "publish") {
        orders.groupBy(_.partition).toSeq.sortBy(_._1).foreach { case (p, os) =>
          val stampMs = System.currentTimeMillis()
          val body = os.map(o => s"""{"published_ms":$stampMs,""" + o.json.substring(1))
            .mkString("", "\n", "\n")
          seq += 1
          val dir = Paths.get(topic, s"p=$p")
          Files.createDirectories(dir)
          val tmp = dir.resolve(f".gen-$seq%07d.txt")
          Files.write(tmp, body.getBytes(UTF_8))
          lastMtime = math.max(lastMtime + 1, stampMs)
          tmp.toFile.setLastModified(lastMtime)
          Files.move(tmp, dir.resolve(f"gen-$seq%07d.txt"), StandardCopyOption.ATOMIC_MOVE)
          val at = tracer.nowUs()
          segments += Segment(p, next(p), next(p) + os.size, scheduledUs, at, phase)
          next(p) += os.size
        }
      }
  }

  def run(spark: SparkSession, tracer: Tracer, ctx: Context,
          progress: ProgressListener): Map[String, Any] = {
    val setup = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally setup(name) = (System.nanoTime() - t0) / 1e9
    }
    val liveOrders = LiveRatePerS * ctx.seconds
    phase("warmup") {
      val w = generate(spark, ctx.seed + 7919, 1000 + LiveRatePerS / 2)
      new Pass(spark, new Tracer(false, spark.sparkContext), ctx, progress,
        s"${ctx.workDir}/warmup", w, 1000).execute()
    }
    val orders = phase("pregenerate")(generate(spark, ctx.seed, BacklogOrders + liveOrders))
    val pass = new Pass(spark, tracer, ctx, progress, s"${ctx.workDir}/run", orders,
      BacklogOrders)
    val report = pass.execute()
    setup("stage_backlog") = pass.stageSeconds
    report ++ Map("setup_phases" -> setup)
  }

  /** One pipeline pass over `orders`: the first `backlog` are staged and
    * drained (backfill), the rest are published live at [[LiveRatePerS]].
    */
  final class Pass(spark: SparkSession, tracer: Tracer, ctx: Context,
                   progress: ProgressListener, dir: String,
                   orders: IndexedSeq[Order], backlog: Int) {
    val topic = s"$dir/topic"
    val rawDir = s"$dir/raw"
    val deadDir = s"$dir/dead"
    val partialsDir = s"$dir/partials"
    val ckpt = s"$dir/checkpoints"
    val publisher = new Publisher(topic, tracer)
    val daily = new java.util.concurrent.ConcurrentHashMap[(Long, String), (Long, BigDecimal)]()
    var queries: Map[String, StreamingQuery] = Map.empty
    var stageSeconds = 0.0
    val trigger = Trigger.ProcessingTime(0L)

    def source(): DataFrame =
      spark.readStream.format(GraftLog.format).option("path", topic)
        .option("maxRecordsPerTrigger", MaxRecordsPerTrigger.toLong).load()

    def start(): Unit = {
      val raw = tracer.span("streaming", "startIngestWithDeadLetter") {
        StreamAssembly.startIngestWithDeadLetter(source(), rawDir, deadDir,
          s"$ckpt/raw", trigger)
      }
      val partials = tracer.span("streaming", "startHourlyPartialsSink") {
        val parsed = tracer.span("ingest", "ingest")(StreamAssembly.ingest(source()))
        val observed = tracer.span("ingest", "withIngestMetrics")(
          StreamAssembly.withIngestMetrics(parsed))
        StreamAssembly.startHourlyPartialsSink(observed, partialsDir,
          s"$ckpt/partials", trigger)
      }
      val rollup = tracer.span("streaming", "dailyRollupStream") {
        StreamAssembly.dailyRollupStream(
          tracer.span("ingest", "ingest")(StreamAssembly.ingest(source())))
          .writeStream.outputMode("update").trigger(trigger)
          .option("checkpointLocation", s"$ckpt/daily")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.collect().foreach { r =>
              daily.put((r.getDate(0).toLocalDate.toEpochDay, r.getString(1)),
                (r.getLong(2), BigDecimal(r.getDouble(3).toString)))
            }
            ()
          }.start()
      }
      queries = Map("raw" -> raw, "partials" -> partials, "daily" -> rollup)
      queries.foreach { case (role, q) => progress.rename(q.id.toString, role) }
    }

    /** This pass's progress reports of the query in `role`. */
    def reports(role: String): Seq[Progress] = {
      val id = queries(role).id.toString
      progress.all.filter(_.queryId == id)
    }

    /** True once every query's last committed end offsets reach `target`. */
    def caughtUp(target: Seq[Long])(ps: Seq[Progress]): Boolean =
      queries.values.forall { q =>
        val id = q.id.toString
        ps.reverseIterator.find(p => p.queryId == id && p.endOffset != null)
          .exists { p =>
            val end = Offsets.parse(p.endOffset)
            target.indices.forall(i => end.getOrElse(i, 0L) >= target(i))
          }
      }

    def awaitCaughtUp(target: Seq[Long], timeoutMs: Long): Unit = {
      val ok = progress.await(timeoutMs)(caughtUp(target))
      if (!ok) throw new IllegalStateException(
        s"streams did not reach offsets $target within $timeoutMs ms; " +
          s"failures: ${progress.failed.mkString("; ")}")
    }

    def execute(): Map[String, Any] = {
      val (backlogOrders, liveOrders) = orders.splitAt(backlog)
      // backfill staging: good orders through GraftLog.stageTopic, the
      // malformed ones as one published segment per partition
      val good = backlogOrders.filterNot(_.malformed)
      val payloads = spark.createDataFrame(
        java.util.Arrays.asList(good.map(o => Row(o.json)): _*),
        StructType(Seq(StructField("value", StringType))))
      val typed = Ingest.fromJsonLines(payloads, Schemas.salesOrderJsonSchema)
        .withColumn("published_ms", lit(System.currentTimeMillis()))
        .localCheckpoint()
      val stageT0 = System.nanoTime()
      tracer.span("sources", "stageTopic") {
        GraftLog.stageTopic(typed, topic, Partitions, hash(col("customer_id")))
      }
      stageSeconds = (System.nanoTime() - stageT0) / 1e9
      good.groupBy(_.partition).foreach { case (p, os) => publisher.advance(p, os.size) }
      publisher.publish(backlogOrders.filter(_.malformed), tracer.nowUs(), "backfill")
      val backlogEnd = publisher.offsets
      ctx.markSetupDone()

      // backfill: drain the staged backlog, then publish live
      ctx.jvm.resetPeaks()
      val gc0 = ctx.jvm.gcMs()
      val scopes = Seq("stream:raw", "stream:partials", "stream:daily", "reader")
      val ops0 = ctx.ops.map(l => scopes.map(s => s -> l.counters(s)).toMap)
      val windowStartUs = tracer.nowUs()
      val startMs = System.currentTimeMillis()
      start()
      awaitCaughtUp(backlogEnd, 120000L)
      val backfillDoneMs = queries.keys.map { role =>
        reports(role).filter(_.endOffset != null)
          .find { p =>
            val end = Offsets.parse(p.endOffset)
            backlogEnd.indices.forall(i => end.getOrElse(i, 0L) >= backlogEnd(i))
          }.map(_.commitMs).getOrElse(Long.MaxValue)
      }.max

      val reader = new Reader
      val readerThread = new Thread(() => reader.loop(), "perfbench-reader")
      val liveStartUs = tracer.nowUs()
      readerThread.start()
      val ticks = liveOrders.grouped(LiveRatePerS * TickMs / 1000).toIndexedSeq
      ticks.zipWithIndex.foreach { case (batch, k) =>
        val due = liveStartUs + k.toLong * TickMs * 1000L
        val waitUs = due - tracer.nowUs()
        if (waitUs > 0) LockSupport.parkNanos(waitUs * 1000L)
        publisher.publish(batch, due, "live")
      }
      val liveEndUs = tracer.nowUs()
      awaitCaughtUp(publisher.offsets, 120000L)
      reader.stop()
      readerThread.join()
      val windowEndUs = tracer.nowUs()
      val gcMs = ctx.jvm.gcMs() - gc0
      val heapPeakMb = ctx.jvm.heapPeakMb()
      val liveHeapMb = ctx.jvm.liveHeapMb()
      queries.values.foreach(_.stop())
      ctx.drainBus()
      val ops = ops0.map(b => scopes.map(s => s -> ctx.ops.get.counters(s).since(b(s))).toMap)

      val checks = verify()
      val extra = if (tracer.enabled) traced() else Map.empty[String, Any]
      Map(
        "window_us" -> Seq(windowStartUs, windowEndUs),
        "live_us" -> Seq(liveStartUs, liveEndUs),
        "backfill" -> Map("orders" -> backlog, "start_ms" -> startMs,
          "done_ms" -> backfillDoneMs, "end_offsets" -> backlogEnd),
        "stage" -> Map("orders" -> good.size, "seconds" -> stageSeconds),
        "segments" -> publisher.segments,
        "roles" -> queries.map { case (role, q) => q.id.toString -> role },
        "progress" -> queries.keys.toSeq.flatMap(reports),
        "reads" -> reader.samples,
        "read_retries" -> reader.retries,
        "read_failures" -> reader.failures,
        "checks" -> checks,
        "ops" -> ops,
        "orders_emitted" -> orders.size,
        "live_rate_per_s" -> LiveRatePerS,
        "tick_ms" -> TickMs,
        "jvm" -> Map("gc_ms" -> gcMs, "heap_peak_mb" -> heapPeakMb,
          "live_heap_mb" -> liveHeapMb)) ++ extra
    }

    /** Batch ids a query has committed, as seen by the progress listener. */
    def committed(role: String): Seq[Long] =
      reports(role).filter(_.inputRows > 0).map(_.batchId)

    /** A glob over the committed batches that wrote files: `root/batch={ids}`
      * plus `leaf` below it. Each glob match is read as its own root, so no
      * partition columns are inferred across batches.
      */
    def committedGlob(root: String, ids: Seq[Long], leaf: String = ""): Option[String] = {
      val present = ids.filter(id => new File(s"$root/batch=$id").isDirectory)
      if (present.isEmpty) None
      else Some(s"$root/batch={${present.mkString(",")}}$leaf")
    }

    /** The dashboard reader: compacted hourly partials plus a raw-store
      * total, over committed batches only, with a think time between reads.
      */
    final class Reader {
      @volatile private var running = true
      val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
      @volatile var retries = 0
      @volatile var failures = 0
      private val lock = new Object

      def stop(): Unit = lock.synchronized { running = false; lock.notifyAll() }

      private def retrying[T](body: => T): T = {
        var attempt = 0
        while (true) {
          try return body
          catch {
            case e: Exception if attempt < 3 && isRace(e) =>
              attempt += 1
              retries += 1
          }
        }
        throw new IllegalStateException("unreachable")
      }

      private def isRace(e: Throwable): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
          .exists(t => t.isInstanceOf[java.io.FileNotFoundException] ||
            String.valueOf(t.getMessage).contains("FileNotFound") ||
            String.valueOf(t.getMessage).contains("does not exist"))

      def loop(): Unit = {
        spark.sparkContext.setLocalProperty(Trace.ScopeProp, "reader")
        while (lock.synchronized(running)) {
          try refresh()
          catch {
            case e: Exception =>
              failures += 1
              System.err.println(s"[perfbench] FAIL reader: ${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).take(300))
          }
          lock.synchronized { if (running) lock.wait(ReaderThinkMs) }
        }
      }

      private def refresh(): Unit = {
        val t0 = System.nanoTime()
        val pGlob = committedGlob(partialsDir, committed("partials"))
        val rGlob = committedGlob(rawDir, committed("raw"), "/month=*")
        val keys = pGlob.map { g =>
          retrying(tracer.span("storage", "compactHourlyPartials") {
            StreamAssembly.compactHourlyPartials(spark, g).collect().length
          })
        }.getOrElse(0)
        val t1 = System.nanoTime()
        val rows = rGlob.map { g =>
          retrying(tracer.span("storage", "readRaw") {
            Storage.readRaw(spark, g).agg(count(lit(1)), sum("total_amount"))
              .collect().head.getLong(0)
          })
        }.getOrElse(0L)
        val t2 = System.nanoTime()
        val files = if (tracer.enabled)
          Seq(pGlob, rGlob).flatten.map(g => spark.read.parquet(g).inputFiles.length).sum
        else 0
        samples += Map("ms" -> (t2 - t0) / 1e6, "compact_ms" -> (t1 - t0) / 1e6,
          "raw_ms" -> (t2 - t1) / 1e6, "keys" -> keys, "raw_rows" -> rows,
          "files" -> files)
      }
    }

    /** End-of-run correctness against a BigDecimal fold of exactly the
      * orders published.
      */
    def verify(): Map[String, Any] = {
      val goodOrders = orders.filterNot(_.malformed)
      val rawRows = Storage.readRaw(spark, rawDir).count()
      val deadRows = spark.read.parquet(deadDir).count()
      val observedRows = reports("partials").map(_.observed.getOrElse("rows", 0L)).sum
      val completed = goodOrders.filter(_.completed)
      val hourly = completed.groupBy(o => (o.hourEpochS, o.category)).map { case (k, os) =>
        k -> (os.size.toLong, os.map(_.quantity).sum, os.map(_.amount).sum)
      }
      val compacted = StreamAssembly.compactHourlyPartials(spark, partialsDir)
        .select(unix_seconds(col("hour")), col("category"), col("order_count"),
          col("total_quantity"), col("total_revenue")).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), BigDecimal(r.getDouble(4))))
        .toMap
      val hourlyOk = compacted.keySet == hourly.keySet && hourly.forall {
        case (k, (c, q, rev)) =>
          val (c2, q2, rev2) = compacted(k)
          c == c2 && q == q2 && rev2.setScale(2, BigDecimal.RoundingMode.HALF_EVEN) == rev
      }
      val dailyFold = completed.groupBy(o => (o.epochDay, o.region)).map { case (k, os) =>
        k -> (os.size.toLong, os.map(_.amount).sum)
      }
      val dailyOk = daily.size == dailyFold.size && dailyFold.forall { case (k, (c, rev)) =>
        Option(daily.get(k)).exists { case (c2, rev2) =>
          c == c2 && rev2.setScale(2, BigDecimal.RoundingMode.HALF_EVEN) == rev
        }
      }
      val malformed = orders.count(_.malformed).toLong
      Map(
        "raw_rows" -> Map("got" -> rawRows, "want" -> goodOrders.size.toLong),
        "dead_letter_rows" -> Map("got" -> deadRows, "want" -> malformed),
        "ingest_metrics_rows" -> Map("got" -> observedRows, "want" -> orders.size.toLong),
        "hourly_partials" -> Map("got" -> hourlyOk, "want" -> true,
          "keys" -> hourly.size),
        "daily_rollup" -> Map("got" -> dailyOk, "want" -> true, "keys" -> dailyFold.size))
    }

    /** Traced-run extras: storage footprint, topic segment count, and one
      * batch `Ingest.ingestSalesOrders` over the whole topic.
      */
    def traced(): Map[String, Any] = {
      def files(root: String): Seq[File] = {
        val f = new File(root)
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(c => files(c.getPath))
        else if (f.isFile) Seq(f) else Nil
      }
      def data(root: String) = files(root).filter { f =>
        val n = f.getName
        !n.startsWith(".") && !n.startsWith("_")
      }
      val written = Seq(rawDir, deadDir, partialsDir).flatMap(data)
      val raw = data(rawDir)
      val log = spark.read.format(GraftLog.format).option("path", topic).load()
      val n = log.count()
      val t0 = System.nanoTime()
      tracer.span("ingest", "ingestSalesOrders") {
        Ingest.ingestSalesOrders(log).write.format("noop").mode("overwrite").save()
      }
      val ns = System.nanoTime() - t0
      Map("storage" -> Map(
        "files_written" -> written.size,
        "bytes_written" -> written.map(_.length).sum,
        "raw_bytes" -> raw.map(_.length).sum),
        "topic_segments" -> data(topic).size,
        "batch_ingest" -> Map("orders" -> n, "ns" -> ns))
    }
  }
}

/** GraftLog offset JSON (`{"0":12,"1":40}`) as a partition → offset map. */
object Offsets {
  def parse(json: String): Map[Int, Long] =
    if (json == null) Map.empty
    else {
      val body = json.trim.stripPrefix("{").stripSuffix("}").trim
      if (body.isEmpty) Map.empty
      else body.split(",").map { kv =>
        val Array(k, v) = kv.split(":")
        k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
      }.toMap
    }
}
