package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

/** The open-loop live workload.
  *
  * One long-lived file-source query runs `StreamOps.runningAggPerUser` and
  * delivers its output to a benchmark-owned `foreachBatch` sink under a fixed
  * processing-time trigger. A separate generator process
  * (`perfbench/livegen.py`) writes stamped event files on a fixed schedule
  * that does not slow when Spark slows. Every delivered batch is recorded
  * with its delivery time and rows; `run.py` computes latencies and checks
  * every row against the running aggregates of the generated events.
  *
  * The generator runs twice: a warm schedule, whose delivery ends set-up,
  * then the measured schedule, whose event ids follow the warm ones.
  *
  * Extra arguments: `livedir` (input and checkpoint directory), `events`
  * (the fixture's events parquet), `generator`, `warm_phases`, `phases` and
  * `tick_ms` (the generator's schedules), `trigger_ms` and `drain_s`. */
object Live {

  private val Tag = "pblive"

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("ts_us", LongType), StructField("value", DoubleType)))

  def run(o: Map[String, String], out: Records): Unit = {
    val t0 = Main.processStartMs
    val liveDir = new File(o("livedir"))
    val in = new File(liveDir, "in")
    val ckpt = new File(liveDir, "ckpt")
    Seq(in, ckpt).foreach(d => { deleteTree(d); d.mkdirs() })
    def count(phases: String): Long = phases.split(",").map(_.split(":")).map(p => p(1).toLong * p(2).toLong).sum
    val (warmPhases, phases) = (o("warm_phases"), o("phases"))
    val (warmEvents, expected) = (count(warmPhases), count(warmPhases) + count(phases))

    val s = Main.session(o("localdir"))
    val buildS = (System.currentTimeMillis() - t0) / 1e3
    val traced = o("trace") == "1"
    val tracer = new Tracer
    if (traced) s.sparkContext.addSparkListener(tracer)
    // progress reports give the micro-batch durations that the end-to-end
    // metrics need, so this listener runs untraced too
    s.streams.addListener(tracer.streams)

    @volatile var delivered = 0L
    @volatile var maxId = -1L
    val sink = (batch: DataFrame, batchId: Long) => {
      val startMs = System.currentTimeMillis()
      val rows = batch.select("user_id", "event_id", "run_sum", "run_n").collect()
      val doneMs = System.currentTimeMillis()
      out.write("kind" -> "live_batch", "batch" -> batchId, "sink_start_ms" -> startMs, "delivered_ms" -> doneMs,
        "rows" -> rows.map((r: Row) => Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
      delivered += rows.length
      if (rows.nonEmpty) maxId = math.max(maxId, rows.map(_.getLong(1)).max)
    }
    val events = s.readStream.schema(schema).json(in.getPath)
      .select(col("user_id"), col("event_id"), expr("timestamp_micros(ts_us)").as("ts"), col("value"))
    // the stream thread inherits this tag, which ties the query's jobs and
    // progress to it in the traced run
    s.sparkContext.addJobTag(Tag)
    val q = graft.streaming.StreamOps.runningAggPerUser(s, events).writeStream
      .outputMode("update")
      .foreachBatch(sink)
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.ProcessingTime(o("trigger_ms").toLong, TimeUnit.MILLISECONDS))
      .start()

    def generator(prefix: String, phases: String, firstId: Long, seed: Long): Process =
      new ProcessBuilder("python3", o("generator"), "--out", in.getPath, "--events", o("events"),
        "--seed", seed.toString, "--phases", phases, "--tick-ms", o("tick_ms"), "--first-id", firstId.toString,
        "--prefix", prefix, "--manifest", new File(liveDir, s"$prefix.manifest.json").getPath)
        .redirectErrorStream(true).redirectOutput(new File(liveDir, s"$prefix.log")).start()
    val seed = o("seed").toLong
    var gen = generator("warm", warmPhases, 0, 2 * seed)
    try {
      // Set-up ends once every warm event is delivered; only then does the
      // measured schedule start.
      val warmDeadline = System.currentTimeMillis() + 90000
      while (maxId < warmEvents - 1 && q.isActive && System.currentTimeMillis() < warmDeadline) Thread.sleep(5)
      val setupS = (System.currentTimeMillis() - t0) / 1e3
      out.write("kind" -> "setup", "build_s" -> buildS, "warm_s" -> (setupS - buildS),
        "setup_s" -> setupS, "warm_failed" -> 0)
      gen.waitFor()
      gen = generator("ev", phases, warmEvents, 2 * seed + 1)
      gen.waitFor()
      val deadline = System.currentTimeMillis() + (o("drain_s").toDouble * 1000).toLong
      while (delivered < expected && System.currentTimeMillis() < deadline && q.isActive) Thread.sleep(10)
    } finally {
      if (gen.isAlive) { gen.destroy(); gen.waitFor() }
      q.stop()
    }
    q.exception.foreach(e => out.write("kind" -> "error", "error" -> e.getMessage.take(300)))
    org.apache.spark.BusAccess.drain(s.sparkContext)
    val batches = tracer.batchesOf(q.runId.toString)
    batches.foreach { case (endMs, triggerMs, rows) =>
      out.write("kind" -> "live_trigger", "end_ms" -> endMs, "trigger_ms" -> triggerMs, "input_rows" -> rows)
    }
    out.write("kind" -> "end", "retained_heap_mb" -> Main.retainedHeapMb(),
      "state" -> Main.sessionState(s),
      "layers" -> (if (traced) tracer.take(s"$Tag-none", Tag) else Map.empty[String, Double]))
    s.stop()
  }

  private def deleteTree(f: File): Unit = if (f.exists()) {
    val w = Files.walk(Paths.get(f.getPath))
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p)) finally w.close()
  }
}
