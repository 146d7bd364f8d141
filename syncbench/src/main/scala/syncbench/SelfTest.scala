package syncbench

import org.apache.spark.sql.SparkSession

import scala.util.{Failure, Success, Try}

/** A small-size check of every workload: an untraced and a traced sync both
  * pass the oracle, the traced one charges work to the expected layers, and a
  * sync whose output is broken on purpose fails the oracle. */
object SelfTest {
  private val expectedLayers = Map(
    "full_sync" -> Set("sources", "explode", "mapping", "snapshot", "singer", "export"),
    "incremental_sync" -> Set("sources", "snapshot", "singer"),
    "stream_catchup" -> Set("streaming"))

  def run(spark: SparkSession, a: Main.Args): Int = {
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val tr = new SpanTracer(spark, System.nanoTime())
    var failures = 0
    def step(what: String)(body: => Unit): Unit = Try(body) match {
      case Success(_) => println(s"  ok    $what")
      case Failure(e) => failures += 1; println(s"  FAIL  $what: $e")
    }
    for ((name, k) <- Workload.names.zipWithIndex) {
      println(s"self-test $name (scale ${a.scale})")
      val wl = Workload(name, spark, a.seed, a.scale)
      step("set-up") { wl.setup(a.work.resolve(name)) }
      step("untraced sync passes the oracle") {
        wl.prepare(0); wl.sync(0, Tracer.Off); wl.check(0); wl.cleanup(0)
      }
      step("traced sync passes the oracle and charges the expected layers") {
        // one tracer serves every workload, so its sync ids must differ
        val id = 1000 * k + 1
        wl.prepare(1)
        tr.sync(id)(wl.sync(1, tr))
        wl.check(1)
        wl.cleanup(1)
        val m = Layers.ofSync(tr, id, cores)
        val touched = (Layers.FrameLayers ++ Layers.CallLayers).filter(l => m.getOrElse(s"$l.calls", 0.0) > 0).toSet
        Oracle.expect("layers touched", touched, expectedLayers(name))
        Oracle.expect("spark jobs seen", m.getOrElse("spark.jobs", 0.0) > 0, true)
        val unknown = m.keySet -- Layers.all.map(_._1).toSet
        Oracle.expect("metrics outside the declared list", unknown, Set.empty)
      }
      step("a broken output fails the oracle") {
        wl.prepare(2); wl.sync(2, Tracer.Off); wl.tamper(2)
        val caught = Try(wl.check(2))
        wl.cleanup(2)
        caught match {
          case Failure(_: OracleMismatch) => ()
          case other => throw new IllegalStateException(s"check after tampering gave $other")
        }
      }
    }
    println(if (failures == 0) "self-test passed" else s"self-test: $failures step(s) failed")
    if (failures == 0) 0 else 1
  }
}
