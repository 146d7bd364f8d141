package syncbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Runs one workload for a fixed time and prints its metrics; the last line
  * of standard output is the JSON result. A closed loop with one client:
  * each sync starts when the previous one has been checked. */
object Main {
  /** Set-ups per run; `setup_s` takes their median. The cold sync runs right
    * after the first, and the run keeps the last. */
  val Setups = 3
  private val mapper = new ObjectMapper()

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10, trace: Boolean = false,
      scale: Double = 1.0, work: Path = Paths.get(".bench_build/work"), spans: Option[Path] = None,
      selftest: Boolean = false)

  def parse(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest     => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest  => parse(rest).copy(seconds = v.toDouble)
    case "--trace" +: v +: rest    => parse(rest).copy(trace = v == "1")
    case "--scale" +: v +: rest    => parse(rest).copy(scale = v.toDouble)
    case "--work" +: v +: rest     => parse(rest).copy(work = Paths.get(v))
    case "--spans" +: v +: rest    => parse(rest).copy(spans = Some(Paths.get(v)))
    case "--selftest" +: rest      => parse(rest).copy(selftest = true)
    case other => throw new IllegalArgumentException(s"unexpected argument ${other.head}")
  }

  def main(argv: Array[String]): Unit = {
    val code = Try(parse(argv.toSeq)) match {
      case Failure(e) => System.err.println(e.getMessage); 2
      case Success(a) => run(a)
    }
    System.exit(code)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("syncbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(a: Args): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    if (!a.selftest && !Workload.names.contains(a.workload)) {
      System.err.println(s"unknown workload '${a.workload}'; known: ${Workload.names.mkString(", ")}")
      return 2
    }
    Files.createDirectories(a.work)
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val spark = session(cores, a.work)
    try {
      if (a.selftest) SelfTest.run(spark, a)
      else { measure(spark, a, cores, (System.currentTimeMillis() - jvmStart) / 1e3); 0 }
    } finally {
      spark.stop()
      Tree.delete(a.work)
    }
  }

  /** One sync as the loop saw it. */
  final case class Done(i: Int, traced: Boolean, s: Double, ok: Boolean, writeAmp: Double)

  def measure(spark: SparkSession, a: Args, cores: Int, sessionS: Double): Unit = {
    val steal0 = Report.cpuTicks
    val wl = Workload(a.workload, spark, a.seed, a.scale)
    val tracer = if (a.trace) Some(new SpanTracer(spark, System.nanoTime())) else None
    val errors = ArrayBuffer[String]()
    def setup(r: Int): Double = {
      if (r > 1) Tree.delete(a.work.resolve(s"setup-${r - 1}"))
      val t = System.nanoTime()
      wl.setup(a.work.resolve(s"setup-$r"))
      (System.nanoTime() - t) / 1e9
    }

    def one(i: Int, traced: Boolean): Done = {
      wl.prepare(i)
      val inBytes = wl.inputBytes(i)
      val before = Tree.files(wl.outputRoots(i))
      val t = System.nanoTime()
      val ran = Try(tracer.filter(_ => traced) match {
        case Some(tr) => tr.sync(i)(wl.sync(i, tr))
        case None     => wl.sync(i, Tracer.Off)
      })
      val s = (System.nanoTime() - t) / 1e9
      val written = Tree.written(before, Tree.files(wl.outputRoots(i)))
      val ok = ran.flatMap(_ => Try(wl.check(i)))
      ok.failed.foreach { e =>
        errors += s"sync $i: $e"
        System.err.println(s"sync $i failed:"); e.printStackTrace()
      }
      wl.cleanup(i)
      Done(i, traced, s, ok.isSuccess, written.toDouble / inBytes)
    }

    // The cold sync comes before any other library call warms the JVM. Each
    // set-up starts the workload's state afresh, so after the last one the
    // sync numbers start again from 0.
    val first = setup(1)
    val cold = one(0, traced = false)
    val setupTimes = first +: (2 to Setups).map(setup)
    val tw = System.nanoTime()
    // in a traced run the last warm-up sync is traced, so that the tracing
    // path is warm too before traced and untraced syncs are compared
    val warm = (0 until wl.warmup).map(i => one(i, a.trace && (wl.warmup - 1 - i) % 2 == 0))
    val warmS = (System.nanoTime() - tw) / 1e9
    val start = System.nanoTime()
    val end = start + (a.seconds * 1e9).toLong
    val runs = ArrayBuffer[Done]()
    var i = wl.warmup
    // A sync (with its check) starts only if it is expected to end in time;
    // in a traced run, traced and untraced syncs alternate, at least one each.
    def more: Boolean = {
      val now = System.nanoTime()
      val each = if (runs.isEmpty) 0L else (now - start) / runs.size
      now + each <= end || runs.count(!_.traced) < 1 || (a.trace && runs.count(_.traced) < 1)
    }
    while (more) {
      runs += one(i, a.trace && i % 2 == 0)
      i += 1
    }

    val all = cold +: (warm ++ runs)
    val failed = all.count(!_.ok)
    val untraced = runs.filter(d => !d.traced && d.ok)
    val times = (if (untraced.nonEmpty) untraced else runs.filter(!_.traced)).map(_.s).toSeq
    val p50 = Stats.median(times)
    val (tail, tailLabel) = Report.tail(times)
    val e2e = Seq(
      ("setup_s", sessionS + Stats.median(setupTimes) + warmS, "s",
        f"session $sessionS%.2f s + median set-up ${Stats.median(setupTimes)}%.2f s of $Setups + warm-up $warmS%.2f s over ${wl.warmup} syncs"),
      ("cold_sync_s", cold.s, "s", "first sync in this JVM"),
      ("sync_p50_s", p50, "s", s"median of ${times.size} warm syncs"),
      ("sync_tail_s", tail, "s", tailLabel),
      ("rows_per_s", wl.inputRecords / p50, "1/s", s"${wl.inputRecords} input records per sync"),
      ("failed_frac", failed.toDouble / all.size, "frac", s"$failed of ${all.size} syncs failed"),
      ("write_amp", if (untraced.isEmpty) 0.0 else Stats.median(untraced.map(_.writeAmp).toSeq), "B/B",
        "bytes written to snapshots, exports and checkpoints per input byte"),
      ("peak_rss_mb", Report.peakRssMb, "MB", "peak resident set of this JVM"))

    println(s"syncbench ${wl.name}: seed ${a.seed}, local[$cores], ${wl.describe}, " +
      s"${a.seconds} s measured, trace ${if (a.trace) 1 else 0}")
    e2e.foreach { case (n, v, u, note) => println(f"  $n%-14s ${Report.fmt(v)}%14s $u%-5s $note") }
    def secs(ds: Seq[Done]) = ds.map(d => f"${d.s}%.2f${if (d.traced) "t" else ""}${if (d.ok) "" else "!"}").mkString(" ")
    println(s"  sync seconds: cold ${secs(Seq(cold))} | warm-up ${secs(warm)} | measured ${secs(runs.toSeq)}" +
      (if (a.trace) " (t: traced)" else ""))
    errors.take(5).foreach(e => println(s"  FAILED $e"))
    for ((steal, total) <- steal0; (steal1, total1) <- Report.cpuTicks if total1 > total)
      println(f"  host CPU steal during the run: ${100.0 * (steal1 - steal) / (total1 - total)}%.1f%% of all CPU time " +
        "(/proc/stat: time the host gave to other guests; syncs slow down with it)")

    val jsonMetrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        // failed_frac is 0 in a good run; the JSON carries it as attempted/failed
        // and as its complement, which is never 0
        e2e.filterNot(_._1 == "failed_frac").map(m => (m._1, m._2, m._3)) :+
          (("sync_ok_frac", 1.0 - failed.toDouble / all.size, "frac"))
      case Some(tr) =>
        val traced = runs.filter(d => d.traced && d.ok)
        val perSync = traced.map(d => Layers.ofSync(tr, d.i, cores))
        val tracedP50 = if (traced.nonEmpty) Stats.median(traced.map(_.s).toSeq) else 0.0
        val layer = Layers.all.map { case (n, u) =>
          val v = n match {
            case "trace.sync_p50_s"           => tracedP50
            case "trace.untraced_sync_p50_s"  => p50
            case "trace.overhead_frac"        => tracedP50 / p50 - 1
            case _ if perSync.isEmpty         => 0.0
            case _                            => Stats.median(perSync.map(_.getOrElse(n, 0.0)).toSeq)
          }
          (n, v, u)
        }
        Report.layerTable(layer, traced.size)
        a.spans.foreach(p => Report.writeSpans(p, tr))
        layer
    }
    val root = mapper.createObjectNode()
    root.put("correct", failed == 0)
    root.put("attempted", all.size)
    root.put("failed", failed)
    val ms = root.putObject("metrics")
    jsonMetrics.foreach { case (n, v, u) =>
      val m = ms.putObject(n)
      m.put("value", if (v.isNaN || v.isInfinite) 0.0 else v)
      m.put("unit", u)
    }
    println(mapper.writeValueAsString(root))
  }
}

object Report {
  def fmt(v: Double): String =
    if (v != 0 && math.abs(v) < 0.01) f"$v%.3e" else if (math.abs(v) >= 1e5) f"$v%.0f" else f"$v%.4f"

  /** The highest percentile with at least 10 samples beyond it. Below 40
    * samples that percentile is at or under the upper quartile, so the upper
    * quartile is reported instead, interpolated between samples: one slow
    * sync, which the maximum would report, does not set the tail. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    val n = s.size
    if (n >= 40) (s(n - 11), s"p${100 * (n - 10) / n} of n=$n, 10 samples beyond")
    else {
      val at = 0.75 * (n - 1)
      val lo = at.toInt
      val v = if (lo + 1 < n) s(lo) + (at - lo) * (s(lo + 1) - s(lo)) else s(lo)
      (v, s"p75 of n=$n, interpolated: under 40 samples a percentile with 10 beyond lies at or below p75")
    }
  }

  /** (steal, total) CPU ticks of the whole machine, from /proc/stat. */
  def cpuTicks: Option[(Long, Long)] =
    Try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.take(8).sum)
    }.toOption

  def peakRssMb: Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:")).get
      .replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  /** Per-layer medians over traced syncs, for the layers this workload touched. */
  def layerTable(metrics: Seq[(String, Double, String)], n: Int): Unit = {
    val byName = metrics.map(m => m._1 -> m._2).toMap
    println(s"  per layer, median of $n traced syncs (self time s; counts per sync):")
    val cols = Seq("s", "plan_s", "calls", "rows_out", "jobs", "stages", "tasks", "task_s", "overhead_frac",
      "shuffle_bytes", "gc_s", "bytes_written")
    println(f"  ${"layer"}%-10s" + cols.map(c => f"$c%14s").mkString)
    (Layers.FrameLayers ++ Layers.CallLayers :+ "spark")
      .filter(l => l == "spark" || byName.getOrElse(s"$l.calls", 0.0) > 0)
      .foreach { l =>
        println(f"  $l%-10s" + cols.map(c => byName.get(s"$l.$c").map(v => f"${fmt(v)}%14s").getOrElse(f"${"-"}%14s")).mkString)
      }
    val extra = metrics.filter(m => m._1.startsWith("trace.") ||
      (!cols.contains(m._1.substring(m._1.indexOf('.') + 1)) && m._2 != 0))
    extra.foreach { case (name, v, u) =>
      println(f"  $name%-30s ${fmt(v)}%14s $u")
    }
  }

  def writeSpans(path: Path, tr: SpanTracer): Unit = {
    val mapper = new ObjectMapper()
    Option(path.getParent).foreach(Files.createDirectories(_))
    val lines = tr.spans.map { s =>
      val o = mapper.createObjectNode()
      o.put("id", s.id); o.put("sync", s.sync); o.put("layer", s.layer); o.put("op", s.op)
      o.put("parent", s.parent); o.put("start_ms", s.start / 1e6); o.put("return_ms", s.planEnd / 1e6)
      o.put("end_ms", s.end / 1e6); o.put("rows", s.rows)
      tr.counter.get(s.id).foreach { c =>
        o.put("jobs", c.jobs.get); o.put("stages", c.stages.get); o.put("tasks", c.tasks.get)
        o.put("task_ms", c.taskMs.get); o.put("gc_ms", c.gcMs.get); o.put("shuffle_bytes", c.shuffleBytes.get)
        o.put("spill_bytes", c.spillBytes.get); o.put("bytes_written", c.bytesWritten.get)
      }
      mapper.writeValueAsString(o)
    }
    Files.write(path, lines.asJava, UTF_8)
  }
}
