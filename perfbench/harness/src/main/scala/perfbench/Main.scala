package perfbench

import org.apache.spark.BusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import java.io.{File, FileOutputStream, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets
import scala.util.Random
import scala.util.control.NonFatal

/** Runs one benchmark workload in one JVM and writes one JSON record per
  * line to `--out`; `perfbench/run.py` turns the records into metrics and
  * checks every digest.
  *
  * Arguments (all `--name value`):
  *   workload  workload name, used for the live workload's dispatch
  *   queries   comma-separated corpus query names (batch workload)
  *   data      fixture directory of the timed pass
  *   warm      fixture directory of the untimed warm passes, not the timed one
  *   seed      seeds the query order of every pass
  *   passes    number of timed passes
  *   trace     1: interleave untraced and traced passes, and trace the latter
  *   localdir  Spark's scratch directory
  *   out       the record file
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new Records(o("out"))
    try {
      if (o("workload") == "stream_live") Live.run(o, out) else Batch.run(o, out)
    } finally out.close()
  }

  def session(localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("graft.graph.loopShufflePartitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "64MB")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Milliseconds since the epoch at which this JVM process started. */
  def processStartMs: Long = ProcessHandle.current().info().startInstant().get().toEpochMilli

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def sessionState(s: SparkSession): Map[String, Double] = Map(
    "session.temp_views" -> s.catalog.listTables().collect().count(_.isTemporary).toDouble,
    "session.cached_rdds" -> s.sparkContext.getPersistentRDDs.size.toDouble,
    "session.active_streams" -> s.streams.active.length.toDouble)
}

/** One JSON object per line. */
final class Records(path: String) {
  private val w = new PrintWriter(new OutputStreamWriter(new FileOutputStream(new File(path)), StandardCharsets.UTF_8))

  def write(fields: (String, Any)*): Unit = synchronized {
    w.println(fields.map { case (k, v) => s"${Records.str(k)}:${Records.value(v)}" }.mkString("{", ",", "}"))
    w.flush()
  }

  def close(): Unit = w.close()
}

object Records {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** The closed-loop batch workload: one client runs the query list in a
  * seeded order, each query through `SparkEntry.queries(name)(spark, dir)`
  * (construct) followed by one digest action. */
object Batch extends AdaptiveSparkPlanHelper {

  private val corpus: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries

  final case class Outcome(ok: Boolean, error: String, digest: String, constructS: Double, actionS: Double,
    layers: Map[String, Double])

  private var seq = 0

  /** Runs one query. With a tracer, also returns its layer figures. */
  def runQuery(s: SparkSession, name: String, dir: String, tracer: Option[Tracer]): Outcome = {
    val sc = s.sparkContext
    seq += 1
    val (ct, at) = (s"pb$seq-c", s"pb$seq-a")
    var constructS = 0.0
    var actionS = 0.0
    var planned: Option[DataFrame] = None
    val t0 = System.nanoTime()
    val result = try {
      sc.addJobTag(ct)
      val df = try corpus(name)(s, dir) finally sc.removeJobTag(ct)
      val t1 = System.nanoTime()
      constructS = (t1 - t0) / 1e9
      sc.addJobTag(at)
      val digest = try {
        val d = Digest.frame(df)
        planned = Some(d)
        Digest.render(df, d.collect()(0))
      } finally sc.removeJobTag(at)
      actionS = (System.nanoTime() - t1) / 1e9
      Right(digest)
    } catch {
      case NonFatal(e) =>
        actionS = (System.nanoTime() - t0) / 1e9 - constructS
        Left(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      BusAccess.drain(sc)
      val m = t.take(ct, at)
      val plan = planned.map(planFigures).getOrElse(Map.empty)
      val planS = Seq("plan.analysis_s", "plan.optimization_s", "plan.planning_s").map(plan.getOrElse(_, 0.0)).sum
      m ++ plan ++ Map(
        "construct.s" -> constructS,
        "construct.driver_s" -> (constructS - m("construct.job_s")),
        "stream.lifecycle_s" -> (if (m("stream.queries") > 0) constructS - m("stream.trigger_s") else 0.0),
        "action.s" -> actionS,
        "action.other_s" -> (actionS - planS - m("exec.s")))
    }
    result match {
      case Right(d) => Outcome(ok = true, "", d, constructS, actionS, layers)
      case Left(err) => Outcome(ok = false, err, "", constructS, actionS, layers)
    }
  }

  private def planFigures(d: DataFrame): Map[String, Double] = {
    val qe = d.queryExecution
    val phases = qe.tracker.phases
    def phase(k: String): Double = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    val plan: SparkPlan = qe.executedPlan
    Map(
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "plan.exchanges" -> collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size.toDouble,
      "plan.broadcasts" -> collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }.size.toDouble)
  }

  def run(o: Map[String, String], out: Records): Unit = {
    val queries = o("queries").split(",").toSeq
    val (data, warm, localDir) = (o("data"), o("warm"), o("localdir"))
    val passes = o("passes").toInt
    val traced = o("trace") == "1"
    val rng = new Random(o("seed").toLong)

    // Set-up: session build plus two untimed warm passes of the list over
    // the warm fixture, counted from process start. In a fresh JVM the
    // first two passes over a list still run 15-40% slower than later ones;
    // timing them would measure JIT compilation.
    val t0 = Main.processStartMs
    val s = Main.session(localDir)
    val buildS = (System.currentTimeMillis() - t0) / 1e3
    val w0 = System.nanoTime()
    val warmFails = (1 to 2).map(_ => queries.count(q => !runQuery(s, q, warm, None).ok)).sum
    val warmS = (System.nanoTime() - w0) / 1e9
    out.write("kind" -> "setup", "build_s" -> buildS, "warm_s" -> warmS, "setup_s" -> (buildS + warmS),
      "warm_failed" -> warmFails)

    val anchor = "q1_pricing_summary"
    def probe(when: String): Unit = {
      val t0 = System.nanoTime()
      val ok = runQuery(s, anchor, warm, None).ok
      out.write("kind" -> "anchor", "when" -> when, "query" -> anchor, "ok" -> ok, "s" -> (System.nanoTime() - t0) / 1e9)
    }
    probe("before")

    val tracer = if (traced) Some(new Tracer) else None
    // Traced runs interleave untraced and traced passes in the order
    // U T T U, so the tracing overhead is measured in the same run and JIT
    // warm-up does not favour either side.
    val total = if (traced) 4 * math.max(1, passes / 2) else passes
    var pass = 0
    while (pass < total) {
      val tracing = traced && (pass % 4 == 1 || pass % 4 == 2)
      if (tracing) tracer.foreach { t => s.sparkContext.addSparkListener(t); s.streams.addListener(t.streams) }
      rng.shuffle(queries).foreach { q =>
        val r = runQuery(s, q, data, if (tracing) tracer else None)
        out.write("kind" -> "query", "pass" -> pass, "traced" -> tracing, "query" -> q, "ok" -> r.ok,
          "error" -> r.error, "digest" -> r.digest, "construct_s" -> r.constructS, "action_s" -> r.actionS,
          "layers" -> r.layers)
      }
      if (tracing) tracer.foreach { t => s.sparkContext.removeSparkListener(t); s.streams.removeListener(t.streams) }
      pass += 1
    }
    probe("after")
    out.write("kind" -> "end", "retained_heap_mb" -> Main.retainedHeapMb(),
      "state" -> Main.sessionState(s))
    s.stop()
  }
}
