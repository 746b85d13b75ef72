package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.CdcRelay
import graft.streaming.CdcRelay.RelayConfig

/** The benchmark's JVM side. `run.py` generates and stages the inputs,
  * then starts this program, which drives the engine only through its
  * public entry points, measures, and writes every raw sample to
  * `<work>/raw.json`; `run.py` turns the samples into metrics and runs
  * the correctness checks.
  *
  *   Main --workload <relay_drain|relay_live>
  *        --seconds <n> --trace <0|1> --work <dir> --cpus <n>
  */
object Main {

  private val mapper = new ObjectMapper()

  /** Scala values to Java collections Jackson can write. */
  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  /** Heap in use after a full collection: what the program retains.
    * Called only between timed calls.
    */
  private def liveHeapBytes(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory).toDouble
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val work = new File(opts("work")).getAbsolutePath
    val cpus = opts("cpus")
    val manifest = mapper.readTree(new File(work, "manifest.json"))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp/spark")
      .config("spark.sql.warehouse.dir", s"$work/tmp/warehouse")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val log = new ProgressLog
    spark.streams.addListener(log)
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val result: Map[String, Any] =
      try workload match {
        case "relay_drain" => relayDrain(spark, work, manifest, seconds, log, tracer)
        case "relay_live" => relayLive(spark, work, manifest, seconds, log, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally {
        spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
      }

    val runtime = tracer.fold(Map.empty[String, Any]) { t =>
      Map("exec" -> Map(
        "jobs" -> t.jobs.get, "tasks" -> t.tasks.get, "run_ms" -> t.runMs.get,
        "cpu_ms" -> t.cpuNs.get / 1000000L, "gc_ms" -> t.gcMs.get,
        "shuffle_bytes" -> t.shuffleBytes.get),
        "spans" -> t.spanList.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "dur_ms" -> s.durMs)))
    }
    val raw = result ++ runtime
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(work, "raw.json"), toJava(raw))
    spark.stop()
  }

  private def relayCfg(in: String, out: String, chk: String): RelayConfig =
    RelayConfig(inputDir = in, outputDir = out, checkpointDir = chk)

  /** Untimed warm relay over the files in `<work>/warm/in` at one file
    * per trigger, so stream start-up, codegen, sink set-up and the JIT of
    * the per-trigger path are not charged to the first timed call.
    */
  private def warmRelay(spark: SparkSession, work: String): Unit = {
    val warm = s"$work/warm"
    CdcRelay.start(spark, relayCfg(s"$warm/in", s"$warm/out", s"$warm/chk")
      .copy(maxFilesPerTrigger = Some(1))).awaitTermination()
  }

  private def progressJson(recvMs: Double, p: StreamingQueryProgress): Map[String, Any] = {
    val st = p.stateOperators.headOption
    Map(
      "recv_ms" -> recvMs,
      "run_id" -> p.runId.toString,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
      "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
      "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
      "dropped_late" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L),
      "dropped_duplicates" -> st.flatMap(s =>
        Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue)).getOrElse(0L))
  }

  /** Write `CdcRelay.transform` of a relay input directory in batch:
    * the result the relay checks compare the sink against.
    */
  private def expected(spark: SparkSession, inDir: String, outDir: String): Unit =
    CdcRelay.transform(spark.read.schema(CdcRelay.inputSchema).parquet(inDir),
      relayCfg(inDir, "-", "-")).write.mode("overwrite").parquet(outDir)

  /** Encode layer: `CdcRelay.transform` over a staged input into the
    * noop sink, outside any stream, three times.
    */
  private def encode(spark: SparkSession, inDir: String, expectedDir: String,
      tracer: Option[Tracer]): Map[String, Any] =
    tracer.fold(Map.empty[String, Any]) { t =>
      val input = spark.read.schema(CdcRelay.inputSchema).parquet(inDir)
      val rows = input.count()
      val times = (1 to 3).map { i =>
        t.span("encode", s"transform_noop_$i") {
          val t0 = System.nanoTime()
          CdcRelay.transform(input, relayCfg(inDir, "-", "-"))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e6
        }
      }
      val bodyBytes = spark.read.parquet(expectedDir)
        .agg(avg(length(col("body")))).head().getDouble(0)
      Map("encode" -> Map("rows" -> rows, "ms" -> times, "body_bytes_per_event" -> bodyBytes))
    }

  /** Closed loop: drain the staged backlog with `Trigger.AvailableNow`
    * at the default file cap, once per round, each round on a fresh
    * checkpoint and sink, until the window is spent. In a traced run the
    * rounds go untraced, traced, traced, untraced, and so on, so that a
    * drift in speed over the run does not show as tracing overhead.
    */
  private def relayDrain(spark: SparkSession, work: String, manifest: JsonNode,
      seconds: Double, log: ProgressLog, tracer: Option[Tracer]): Map[String, Any] = {
    val staged = s"$work/${manifest.get("staged").asText}"
    // untimed rounds over the same backlog: the JIT sees the timed path
    (0 until manifest.get("warm_rounds").asInt).foreach { i =>
      CdcRelay.start(spark, relayCfg(staged, s"$work/warm/out_$i", s"$work/warm/chk_$i"))
        .awaitTermination()
    }
    liveHeapBytes() // the first timed round starts from a collected heap, as later ones do
    log.clear()
    val rounds = Seq.newBuilder[Map[String, Any]]
    val firstTimedMs = Clock.nowMs
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end || i < 2) {
      val on = tracer.isDefined && (i % 4 == 1 || i % 4 == 2)
      if (on) tracer.get.attach()
      val cfg = relayCfg(staged, s"$work/drain/out_$i", s"$work/drain/chk_$i")
      val (runId, wallMs) = traced(tracer, on, "relay", s"round_$i") {
        val t0 = System.nanoTime()
        val q = traced(tracer, on, "relay", "start")(CdcRelay.start(spark, cfg))
        traced(tracer, on, "relay", "await")(q.awaitTermination())
        (q.runId.toString, (System.nanoTime() - t0) / 1e6)
      }
      if (on) tracer.get.detach()
      // a full collection between rounds, outside their timing: every
      // round starts from the same heap, and the heap it left is measured
      val heap = liveHeapBytes()
      rounds += Map("index" -> i, "traced" -> on, "wall_ms" -> wallMs,
        "out" -> s"drain/out_$i", "run_id" -> runId, "live_heap_bytes" -> heap)
      i += 1
    }
    val progress = log.snapshot.map { case (t, p) => progressJson(t, p) }
    Map("first_timed_ms" -> firstTimedMs, "rounds" -> rounds.result()) ++ Map(
      "progress" -> progress,
      "sink_writes" -> sinkWrites(tracer)) ++ {
      expected(spark, staged, s"$work/expected")
      encode(spark, staged, s"$work/expected", tracer)
    }
  }

  /** `body` as a span when this part of the run is traced. */
  private def traced[T](tracer: Option[Tracer], on: Boolean, layer: String, name: String,
      parent: Option[Long] = None)(body: => T): T =
    tracer.filter(_ => on).fold(body)(_.span(layer, name, parent)(body))

  private def sinkWrites(tracer: Option[Tracer]): Seq[Double] =
    tracer.toSeq.flatMap(_.writeList)

  /** Open loop: a scheduler thread lands staged file i at `t0 + i·gap`
    * in the input directory of a running `CdcRelay.startContinuous`.
    * Each file's mtime is its due time, so files are admitted in order.
    * A traced run does this twice, first untraced, then traced.
    */
  private def relayLive(spark: SparkSession, work: String, manifest: JsonNode,
      seconds: Double, log: ProgressLog, tracer: Option[Tracer]): Map[String, Any] = {
    val staged = s"$work/${manifest.get("staged").asText}"
    val gapMs = manifest.get("gap_ms").asDouble
    val phaseMs = manifest.get("phase_ms").asDouble
    val all = manifest.get("files").elements().asScala.toSeq
      .map(n => n.get("name").asText -> n.get("rows").asLong)
    warmRelay(spark, work)
    val legs = if (tracer.isDefined) Seq(false, true) else Seq(false)
    val perLeg = all.size / legs.size
    val firstTimedMs = Clock.nowMs
    val results = legs.zipWithIndex.map { case (on, leg) =>
      val mine = all.slice(leg * perLeg, (leg + 1) * perLeg)
      val in = s"$work/live/in_$leg"
      new File(in).mkdirs()
      log.clear()
      if (on) tracer.get.attach()
      val (runId, due, landed, heap) = traced(tracer, on, "relay", s"leg_$leg") {
        val cfg = relayCfg(in, s"$work/live/out_$leg", s"$work/live/chk_$leg")
        val q = traced(tracer, on, "relay", "start")(CdcRelay.startContinuous(spark, cfg))
        // let the query finish its first (empty) trigger before the clock
        // starts; an empty trigger posts no progress event, so poll status
        val ready = Clock.nowMs + 10000
        while (!(q.status.message.startsWith("Waiting") && !q.status.isTriggerActive) &&
            Clock.nowMs < ready) Thread.sleep(10)
        // start the schedule on the trigger clock: processing-time
        // triggers fire at wall-clock multiples of the interval, so each
        // file's arrival phase within a trigger period is fixed by its index
        val interval = cfg.idleIntervalMs
        val wall = System.currentTimeMillis()
        val t0 = Clock.nowMs + ((wall / interval + 2) * interval - wall) + phaseMs
        val due = mine.indices.map(i => t0 + i * gapMs)
        val landed = new Array[Double](mine.size)
        val legSpan = tracer.flatMap(_.current)
        val scheduler = new Thread(() => {
          mine.zipWithIndex.foreach { case ((name, _), i) =>
            var wait = due(i) - Clock.nowMs
            while (wait > 0) { Thread.sleep(math.ceil(wait).toLong); wait = due(i) - Clock.nowMs }
            traced(tracer, on, "gen", s"arrive_$i", legSpan) {
              val src = Paths.get(staged, name)
              src.toFile.setLastModified(due(i).toLong)
              Files.move(src, Paths.get(in, name), StandardCopyOption.ATOMIC_MOVE)
            }
            landed(i) = Clock.nowMs
          }
        }, "perfbench-arrivals")
        scheduler.setDaemon(true)
        scheduler.start()
        scheduler.join()
        val total = mine.map(_._2).sum
        val deadline = Clock.nowMs + 60000
        def committed = log.snapshot.filter(_._2.runId == q.runId).map(_._2.numInputRows).sum
        traced(tracer, on, "relay", "await_commits") {
          while (committed < total && Clock.nowMs < deadline) Thread.sleep(20)
        }
        // what the running relay retains: heap after a full collection
        val heap = liveHeapBytes()
        q.stop()
        (q.runId, due, landed.toSeq, heap)
      }
      if (on) tracer.get.detach()
      Map("leg" -> leg, "traced" -> on, "in" -> s"live/in_$leg",
        "out" -> s"live/out_$leg", "run_id" -> runId.toString,
        "files" -> mine.map(_._1), "rows" -> mine.map(_._2),
        "due_ms" -> due, "landed_ms" -> landed, "live_heap_bytes" -> heap,
        "progress" -> log.snapshot.filter(_._2.runId == runId)
          .map { case (t, p) => progressJson(t, p) })
    }
    Map("first_timed_ms" -> firstTimedMs, "gap_ms" -> gapMs, "legs" -> results,
      "sink_writes" -> sinkWrites(tracer)) ++ {
      legs.indices.foreach(l => expected(spark, s"$work/live/in_$l", s"$work/expected_$l"))
      encode(spark, s"$work/live/in_*", s"$work/expected_0", tracer)
    }
  }
}
