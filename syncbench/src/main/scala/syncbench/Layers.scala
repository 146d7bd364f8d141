package syncbench

import scala.collection.mutable

/** The per-layer metrics of a traced sync, named `<layer>.<metric>`. Layers
  * are the library's modules; `spark` is the session total of one sync. */
object Layers {
  /** Layers called through [[Tracer.frame]]: they return a lazy frame. */
  val FrameLayers = Seq("sources", "explode", "mapping", "snapshot")
  /** Layers whose calls do their work before they return. */
  val CallLayers = Seq("singer", "export", "streaming")

  private val counted = Seq("jobs", "stages", "tasks", "task_s", "overhead_frac",
    "shuffle_bytes", "spill_bytes", "gc_s", "bytes_written")

  /** Every per-layer metric with its unit, in the order BENCHMARK.json lists
    * them. A layer a workload does not touch reports 0. */
  val all: Seq[(String, String)] = {
    val frame = FrameLayers.flatMap(l =>
      (Seq("s", "plan_s", "calls", "rows_out") ++ counted).map(m => s"$l.$m"))
    val call = CallLayers.flatMap(l => (Seq("s", "calls") ++ counted).map(m => s"$l.$m"))
    val spark = ("s" +: counted).map(m => s"spark.$m")
    val extra = Seq("snapshot.cdc_keep_ratio", "streaming.batches", "streaming.batch_s_p50",
      "streaming.trigger_overhead_s", "trace.overhead_frac", "trace.uncovered_frac",
      "trace.sync_p50_s", "trace.untraced_sync_p50_s")
    (frame ++ call ++ spark ++ extra).map(n => n -> unit(n))
  }

  def unit(name: String): String = name.substring(name.indexOf('.') + 1) match {
    case "calls" | "jobs" | "stages" | "tasks" | "batches" => "count"
    case "rows_out"                                        => "rows"
    case m if m.endsWith("_bytes") || m == "bytes_written" => "B"
    case m if m.endsWith("_frac") || m.endsWith("_ratio")  => "frac"
    case _                                                 => "s"
  }

  /** Metrics of traced sync `i`. The bus must be drained (the tracer does so
    * when the sync span closes). A layer's `s` is self time: its spans'
    * durations minus the part their child spans cover. */
  def ofSync(tr: SpanTracer, i: Int, cores: Int): Map[String, Double] = {
    val ss = tr.spans.filter(_.sync == i).toSeq
    val root = ss.find(_.layer == "sync").getOrElse(sys.error(s"sync $i has no root span"))
    val covered = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    def self(s: Span): Long = s.dur - covered.getOrElse(s.id, 0L)
    val m = mutable.LinkedHashMap[String, Double]()

    def addCounts(prefix: String, group: Seq[Span], selfS: Double): Unit = {
      val cs = group.flatMap(s => tr.counter.get(s.id))
      def sum(f: SparkCounts => java.util.concurrent.atomic.AtomicLong): Double = cs.map(c => f(c).get).sum.toDouble
      val taskS = sum(_.taskMs) / 1e3
      m(s"$prefix.jobs") = sum(_.jobs)
      m(s"$prefix.stages") = sum(_.stages)
      m(s"$prefix.tasks") = sum(_.tasks)
      m(s"$prefix.task_s") = taskS
      m(s"$prefix.overhead_frac") = if (selfS > 0) 1.0 - taskS / (selfS * cores) else 0.0
      m(s"$prefix.shuffle_bytes") = sum(_.shuffleBytes)
      m(s"$prefix.spill_bytes") = sum(_.spillBytes)
      m(s"$prefix.gc_s") = sum(_.gcMs) / 1e3
      m(s"$prefix.bytes_written") = sum(_.bytesWritten)
    }

    for ((layer, group) <- ss.filter(_ ne root).groupBy(_.layer)) {
      val selfS = group.map(self).sum / 1e9
      m(s"$layer.s") = selfS
      m(s"$layer.calls") = group.size
      if (FrameLayers.contains(layer)) {
        val frames = group.filter(_.isFrame)
        m(s"$layer.plan_s") = frames.map(s => s.planEnd - s.start).sum / 1e9
        m(s"$layer.rows_out") = frames.map(_.rows).sum
      }
      addCounts(layer, group, selfS)
    }
    val syncS = root.dur / 1e9
    m("spark.s") = syncS
    addCounts("spark", ss, syncS)
    m("trace.uncovered_frac") = self(root).toDouble / root.dur

    ss.find(_.op == "dropRedundant").foreach { cdc =>
      val read = ss.filter(_.layer == "sources").map(_.rows).sum
      m("snapshot.cdc_keep_ratio") = if (read > 0) cdc.rows.toDouble / read else 0.0
    }
    val batches = ss.flatMap(_.runId).flatMap(tr.progress.forRun)
    if (batches.nonEmpty) {
      m("streaming.batches") = batches.size
      m("streaming.batch_s_p50") = Stats.median(batches.map(_.triggerMs / 1e3))
      m("streaming.trigger_overhead_s") = batches.map(b => b.triggerMs - b.addBatchMs).sum / 1e3
    }
    m.toMap
  }
}
