package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftBenchBridge
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.SparkEntry
import graft.core.Schemas
import graft.engine.HotelWeather
import graft.streaming.StreamAggregator

/** One measured run in a fresh JVM: `Main <plan.json>`. The plan (written
  * by perfbench/run.py) names the workload and its seeded inputs; the
  * run writes raw timings, listener records and check results to the
  * plan's `out` file. All arithmetic on them happens in perfbench/pb. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(0)))
    val out = new File(plan.get("out").asText)
    val result =
      if (plan.get("mode").asText == "oracle-sql") SparkEntry.oracleSql
      else new Run(plan).run()
    json.writeValue(out, result)
  }
}

final class Run(plan: JsonNode) {
  private val cpus = plan.get("cpus").asInt
  private val traced = plan.get("trace").asBoolean
  private val runDir = plan.get("run_dir").asText
  private val rows = new RowCounter
  private val probe = new StreamProbe
  // one per Spark application: job and stage ids restart in each
  private val traces = scala.collection.mutable.Buffer.empty[TraceListener]

  private def text(n: JsonNode, k: String): String = n.get(k).asText

  /** The session graft.Bench builds (same conf), with its
    * scratch, warehouse and shuffle directories inside the run dir, and
    * the benchmark's listeners registered. */
  private def newSession(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.listenerManager.register(rows)
    s.streams.addListener(probe)
    if (traced) {
      val t = new TraceListener(traces.size * TraceListener.IdsPerApp)
      traces += t
      s.sparkContext.addSparkListener(t)
    }
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-up as a user pays it: a new Spark application ready to run a
    * job. Repeated `setups` times; every application but the last is
    * stopped, so no repetition can ride a memo or cached index built
    * by an earlier one (Scratch keys them by application id). */
  private def setUp(): (SparkSession, Seq[Map[String, Double]]) = {
    val n = plan.get("setups").asInt
    var spark: SparkSession = null
    val spans = (1 to n).map { i =>
      val t0 = Clock.now()
      spark = newSession()
      spark.range(1000).count()
      val t1 = Clock.now()
      if (i < n) stopSession(spark)
      Map("start_ms" -> t0, "end_ms" -> t1)
    }
    (spark, spans)
  }

  /** Wait (at most 3 s) until the JIT has compiled nothing for 200 ms:
    * compilations a warm-up queued run on background threads, and
    * while they do they take cores from the first timed ops. */
  private def awaitJitQuiet(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val start = Clock.now()
    val deadline = start + 3000
    var last = jit.getTotalCompilationTime
    var quietSince = Clock.now()
    while (Clock.now() - quietSince < 200 && Clock.now() < deadline) {
      Thread.sleep(20)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = Clock.now() }
    }
    jitWaitMs += Clock.now() - start
  }
  private var jitWaitMs = 0.0

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap the program still holds once the workload is done (memo
    * frames, cached blocks, stream state and sink), after a full
    * collection. The pause lets Spark's ContextCleaner drop blocks whose
    * owners the first collection freed, so the figure does not depend
    * on cleaner timing. */
  private def retainedHeapBytes(): Long = {
    val gc0 = gcMs()
    System.gc()
    Thread.sleep(500)
    System.gc()
    forcedGcMs += gcMs() - gc0
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  private var retainedHeap = -1L
  private var forcedGcMs = 0L

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def run(): Map[String, Any] = {
    val (first, setups) = setUp()
    val sc0 = first.sparkContext
    // warm-up outside the measurement, as graft.Bench does: JIT, codegen
    // and parquet reader init are not billed to whichever op runs first
    first.range(1000000).selectExpr("sum(id)").collect()
    // two at a time: the warm-up is untimed, so only the work the JIT
    // sees counts, and at this scale one query mostly keeps one driver
    // thread busy (Scratch memos are built race-safe)
    val warmers = java.util.concurrent.Executors.newFixedThreadPool(2)
    plan.get("warmup_queries").elements.asScala.toList.map { q =>
      warmers.submit(new Runnable {
        def run(): Unit = SparkEntry.queries(q.asText)(first, text(plan, "data_dir"))
          .write.mode("overwrite").format(CountSink.Format).save()
      })
    }.foreach(_.get())
    warmers.shutdown()
    first.catalog.clearCache()
    GraftBenchBridge.drainListeners(sc0)
    rows.take()
    val gc0 = gcMs()
    val (spark, body) = text(plan, "mode") match {
      case "batch" => batch(first)
      case "stream" => (first, stream(first))
    }
    val sc = spark.sparkContext
    val gc = gcMs() - gc0 - forcedGcMs
    val storage = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    GraftBenchBridge.drainListeners(sc)
    val res = body ++ Map(
      "meta" -> Map("cpus" -> cpus, "spark" -> spark.version,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "java" -> System.getProperty("java.version"),
        "app_id" -> sc.applicationId),
      "setups" -> setups,
      "setup_s" -> setups.map(s => (s("end_ms") - s("start_ms")) / 1000),
      "jvm_gc_ms" -> gc,
      "jit_wait_ms" -> jitWaitMs,
      "retained_rdds" -> storage.length,
      "retained_bytes" -> storage.map(r => r.memSize + r.diskSize).sum,
      "peak_rss_kb" -> peakRssKb(),
      "retained_heap_bytes" -> retainedHeap,
      "jobs" -> traces.flatMap(_.jobRecords).toList,
      "stages" -> traces.flatMap(_.stageRecords).toList)
    spark.stop()
    res
  }

  /** The planned queries to the counting noop sink, in the listed
    * order, in `passes` new Spark applications one after the other (new
    * memos and caches; Scratch keys them by application id), none the
    * warm-up's, each started once the JIT has gone quiet. Caches a
    * query built are dropped after it, as in
    * graft.Bench; session memos stay (sharing inside one session is
    * real). Returns the session of the last pass. */
  private def batch(first: SparkSession): (SparkSession, Map[String, Any]) = {
    var spark = first
    val calls = (1 to plan.get("passes").asInt).flatMap { pass =>
      stopSession(spark)
      spark = newSession()
      awaitJitQuiet()
      val res = batchPass(spark, pass)
      // one session's retention: after pass 1
      if (pass == 1) retainedHeap = retainedHeapBytes()
      res
    }.toList
    (spark, Map("calls" -> calls, "batches" -> probe.records))
  }

  private def batchPass(spark: SparkSession, pass: Int): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    val dataDir = text(plan, "data_dir")
    plan.get("queries").elements.asScala.zipWithIndex.map {
      case (q, i) =>
        val name = text(q, "name")
        val id = s"p${pass}q$i"
        sc.setLocalProperty(CallTag.Key, id)
        val start = Clock.now()
        val error = try {
          SparkEntry.queries(name)(spark, dataDir)
            .write.mode("overwrite").format(CountSink.Format).save()
          null
        } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
        val end = Clock.now()
        sc.setLocalProperty(CallTag.Key, null)
        spark.catalog.clearCache()
        GraftBenchBridge.drainListeners(sc)
        Map("id" -> id, "name" -> name, "layer" -> text(q, "layer"),
          "pass" -> pass, "start_ms" -> start, "end_ms" -> end,
          "error" -> error, "rows" -> rows.take())
    }.toSeq
  }

  private def stream(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    val cfg = plan.get("stream")
    val watched = text(cfg, "watched")
    val staging = text(cfg, "staging")
    val sink = "hotel_weather_agg"
    val live = cfg.get("live_days").elements.asScala.map(_.asText).toVector
    val cadenceMs = cfg.get("cadence_ms").asLong
    val timeoutMs = cfg.get("catchup_timeout_s").asLong * 1000
    val schema = StructType(Schemas.hotelWeather.fields ++
      Seq("year", "month", "day").map(StructField(_, IntegerType)))
    // one analyst refresh, in the reference's cells 5-6 shape: collect
    // the top-10, then pull their series. Passing top10(spark, agg)
    // itself fails on a memory-sink table (see perfbench/README.md,
    // hazards)
    def readBoard(): Unit = {
      val agg = spark.table(sink)
      val top = HotelWeather.top10(spark, agg)
      val topRows = top.collect()
      HotelWeather.citySeries(agg,
        spark.createDataFrame(topRows.toSeq.asJava, top.schema)).collect()
    }
    def awaitRows(n: Long): Boolean = {
      val deadline = Clock.now() + timeoutMs
      while (probe.committedRows.get < n && probe.failure == null &&
        Clock.now() < deadline) Thread.sleep(5)
      probe.committedRows.get >= n
    }

    // the reference's int96 read mode (HotelWeather.read sets the same)
    spark.conf.set("spark.sql.parquet.int96RebaseModeInRead", "LEGACY")
    StreamAggregator.withStreamShuffle(spark) {
      sc.setLocalProperty(CallTag.Key, "stream")
      val source = spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", cfg.get("max_files_per_trigger").asInt)
        .load(watched)
      val startMs = Clock.now()
      val query = HotelWeather.cityDayAgg(source).writeStream
        .outputMode(OutputMode.Complete()).format("memory").queryName(sink)
        .option("checkpointLocation", text(cfg, "checkpoint"))
        .start()
      sc.setLocalProperty(CallTag.Key, null)
      val backfilled = awaitRows(cfg.get("backfill_rows").asLong)
      // sampled here, after a fixed amount of work: by the end of the
      // live phase the heap also holds the status of however many reads
      // fitted in, which made the figure vary by half between runs
      retainedHeap = retainedHeapBytes()
      // untimed: the reader's first refreshes run interpreted (the first
      // took ~2.4 s, and reads kept speeding up for dozens of days), and
      // while they do they slow the micro-batches next to them; the live
      // phase then measured how fast the JIT warmed on the host. A read
      // that fails here fails again, and counts, in the live phase
      if (backfilled)
        (1 to cfg.get("warmup_reads").asInt).foreach(_ => scala.util.Try(readBoard()))

      // open loop: day i is due at liveStart + i * cadence whatever the
      // stream is doing; lateness against that schedule is recorded
      val liveStart = Clock.now() + 100
      def sleepUntil(t: Double): Unit = {
        var wait = t - Clock.now()
        while (wait > 0) {
          Thread.sleep(math.max(0L, wait.toLong - 1), 0)
          wait = t - Clock.now()
        }
      }
      val drops = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
      val generator = new Thread(() => live.zipWithIndex.foreach { case (dir, i) =>
        val due = liveStart + i * cadenceMs
        sleepUntil(due)
        Files.move(Paths.get(staging, dir), Paths.get(watched, dir),
          StandardCopyOption.ATOMIC_MOVE)
        drops.add(Map("day" -> dir, "due_ms" -> due, "at_ms" -> Clock.now()))
      }, "graftbench-generator")

      // closed loop: one analyst refreshes the board once per live day,
      // as soon as the micro-batch holding that day has committed (or,
      // if it has not by the time the next day is due, then). A reader
      // started with the drop raced the micro-batch for the FIFO
      // scheduler's task slots, and its walls jumped between ~0.3 s
      // (its jobs first) and ~0.6 s (the batch's first) from one read to
      // the next. Reads still run on the live sink while the stream
      // polls, and overlap the next micro-batch when they outlast the
      // cadence.
      val liveRows = cfg.get("live_rows_cum").elements.asScala.map(_.asLong).toVector
      val reads = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
      val reader = new Thread(() => {
        live.indices.foreach { i =>
          val giveUp = liveStart + (i + 1) * cadenceMs
          sleepUntil(liveStart + i * cadenceMs)
          while (probe.committedRows.get < liveRows(i) && probe.failure == null &&
            Clock.now() < giveUp) Thread.sleep(1)
          sc.setLocalProperty(CallTag.Key, s"r$i")
          val start = Clock.now()
          val error = try { readBoard(); null }
          catch { case e: Throwable => e.toString }
          reads.add(Map("id" -> s"r$i", "start_ms" -> start,
            "end_ms" -> Clock.now(), "error" -> error))
        }
      }, "graftbench-reader")

      if (backfilled) {
        generator.start()
        reader.start()
        generator.join()
      }
      val caughtUp = backfilled && awaitRows(cfg.get("total_rows").asLong)
      if (backfilled) reader.join()
      query.stop()
      GraftBenchBridge.drainListeners(sc)

      sc.setLocalProperty(CallTag.Key, "check")
      val sinkRows = spark.table(sink).collect().toSeq.map(aggTuple)
      val batchRows = HotelWeather.cityDayAgg(HotelWeather.read(spark, watched))
        .collect().toSeq.map(aggTuple)
      val streamTop = HotelWeather.top10(spark, spark.table(sink))
        .collect().toSeq.map(aggTuple)
      val goldenTop = HotelWeather.goldenPipeline(spark, watched)
        .collect().toSeq.map(aggTuple)
      sc.setLocalProperty(CallTag.Key, null)

      Map("stream" -> Map(
        "start_ms" -> startMs, "backfilled" -> backfilled,
        "backfill_rows" -> cfg.get("backfill_rows").asLong,
        "caught_up" -> caughtUp, "failure" -> probe.failure,
        "batches" -> probe.records, "drops" -> drops.asScala.toList,
        "reads" -> reads.asScala.toList,
        "sink_rows" -> sinkRows.size,
        "sink_equals_batch" -> (sinkRows.sorted == batchRows.sorted),
        "top10_equals_golden" -> Run.sameTop10(streamTop, goldenTop, sinkRows)))
    }
  }

  private def aggTuple(r: Row): Run.Agg = (r.getAs[String]("city"),
    r.getAs[String]("wthr_date"), r.getAs[Long]("distinct_hotels"),
    r.getAs[Double]("avg_temperature"), r.getAs[Double]("max_temperature"),
    r.getAs[Double]("min_temperature"))
}

object Run {
  type Agg = (String, String, Long, Double, Double, Double)

  /** Two top-10 answers agree when they are equal after ordering ties,
    * or when they differ only in which city fills a tie at the cut:
    * then every row must still be its city's best day (the reference
    * SQL's row_number rule) with the tied count. */
  def sameTop10(a: Seq[Agg], b: Seq[Agg], all: Seq[Agg]): Boolean = {
    def canon(s: Seq[Agg]) = s.sortBy(t => (-t._3, t._1, t._2))
    if (canon(a) == canon(b)) return true
    if (a.size != b.size || a.isEmpty) return false
    val cut = canon(b).last._3
    val best = all.groupBy(_._1).values
      .map(_.maxBy(t => (t._3, t._2))).filter(_._3 == cut).toSet
    canon(a).filter(_._3 > cut) == canon(b).filter(_._3 > cut) &&
      a.map(_._3).sorted == b.map(_._3).sorted &&
      (a ++ b).filter(_._3 == cut).forall(best)
  }
}
