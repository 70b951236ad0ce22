package perfbench

import org.apache.spark.sql.SparkSession

/** The harness's own attribution test, run by `perfbench/selftest.py` on the
  * sf0.001 fixture.
  *
  * It runs a streaming query, a batch query and the streaming query again
  * back to back under the tracer, and checks that each query's jobs and
  * streaming progress landed on that query and no other: the batch query
  * owns no streaming run, each streaming run owns exactly one run whose
  * input rows equal the events table, the batch query's job counts equal
  * those of the same query traced alone, and each query's child spans fit
  * inside its phases. Exits 1 if any check fails.
  * Arguments: `<fixture dir> <spark local dir>`. */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val Array(dir, localDir) = args
    val s = Main.session(localDir)
    val tracer = new Tracer
    s.sparkContext.addSparkListener(tracer)
    s.streams.addListener(tracer.streams)
    val (stream, batch) = ("q_stream_dedup", "q_tpch_v6")
    val events = s.read.parquet(s"$dir/events.parquet").count().toDouble
    var failures = 0
    def check(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    def traced(q: String): Map[String, Double] = {
      val r = Batch.runQuery(s, q, dir, Some(tracer))
      check(s"$q runs", r.ok)
      r.layers
    }

    traced(batch) // warm
    val alone = traced(batch)
    val seq = Seq(stream, batch, stream).map(q => q -> traced(q))
    seq.foreach {
      case (q, m) if q == stream =>
        check(s"$q owns one streaming run", m("stream.queries") == 1.0)
        check(s"$q progress counts every event (${m("stream.input_rows")} of $events)",
          m("stream.input_rows") == events)
        check(s"$q's jobs ran while it was built", m("construct.jobs") > 0)
      case (q, m) =>
        check(s"$q owns no streaming run", m("stream.queries") == 0.0 && m("stream.batches") == 0.0)
        Seq("exec.jobs", "construct.jobs", "catalog.commands").foreach { k =>
          check(s"$q $k between two streaming queries equals $k alone (${m(k)} vs ${alone(k)})", m(k) == alone(k))
        }
    }
    // The phases partition each query's wall time: construct = its jobs +
    // driver self time, action = planning + execution + the action's self
    // time. The self times are remainders, so the check is that the child
    // spans fit inside their parent (listener times are whole milliseconds).
    seq.foreach { case (q, m) =>
      check(s"$q: jobs fit in its construct step, planning and jobs in its action",
        m("construct.driver_s") > -0.01 && m("action.other_s") > -0.01)
    }
    s.stop()
    println(s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
