package perfbench

import graft.api.GraftEngine
import org.apache.spark.sql.SparkSession

import perfbench.Layers.median

import scala.collection.mutable.ArrayBuffer

/** What every workload can reach: the session, the facade under test,
  * the span recorder, the generated inputs and a scratch directory.
  */
final case class Ctx(spark: SparkSession, engine: GraftEngine, rec: Recorder,
                     data: String, work: String, seed: Long, cores: Int, trace: Boolean)

/** One benchmark workload: a set-up, a closed-loop operation and the
  * oracles that check what the operations produced.
  */
abstract class Workload(val ctx: Ctx) {
  def setup(): Unit
  /** One measured operation (iteration `i`); returns the input rows it consumed. */
  def op(i: Int): Long
  /** Untimed check of what operation `i` produced; failure messages. */
  def checkOp(i: Int): Seq[String] = Nil
  /** Checks after the measured phase, by name; failure messages. */
  def checkEnd(): Seq[(String, Seq[String])]
  /** Share of the oracle's expected results the program returned. */
  def recall: Double
  /** Traced runs: a probe timed in its own span before traced operation `i`. */
  def probe(i: Int): Unit = ()
  /** Traced runs: per-layer numbers measured outside the operations. */
  def probes(): Map[String, Double] = Map.empty
  def close(): Unit = ()
  protected def span[T](name: String, i: Int)(body: => T): T = ctx.rec.span(name, i)(body)
}

/** Benchmark driver: one workload, one seed, one measured window.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR [--spans FILE]
  *
  * Prints one JSON line on stdout: correct, attempted, failed, and the
  * end-to-end metrics (trace 0) or per-layer metrics (trace 1).
  */
object Main {
  /** Times the set-up runs; the reported set-up time is their median. */
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, new GraftEngine(spark), new Recorder(spark),
                  a("data"), a("work"), a("seed").toLong, cores, trace)
    val w: Workload = name match {
      case "corpus_build" => new CorpusBuild(ctx)
      case "ivf_query" => new IvfQuery(ctx)
      case other => sys.error(s"unknown workload: $other")
    }
    val line = try run(w, seconds, trace, cores, a.get("spans"))
               finally { w.close(); spark.stop() }
    System.err.println("[perfbench] session stopped")
    println(line)
  }

  private def fail(msg: String): Unit = System.err.println(s"[perfbench] FAILED: $msg")

  private def run(w: Workload, seconds: Double, trace: Boolean, cores: Int,
                  spansOut: Option[String]): String = {
    val rec = w.ctx.rec
    val born = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1f s: $what")
    val setupS = (1 to SetupReps).map { _ =>
      val t = System.nanoTime(); w.setup(); (System.nanoTime() - t) / 1e9
    }
    var attempted = 0L
    var failed = 0L
    def attempt(what: String)(body: => Seq[String]): Unit = {
      attempted += 1
      val errs = try body catch { case e: Throwable => Seq(s"$what threw $e") }
      if (errs.nonEmpty) { failed += 1; errs.take(5).foreach(m => fail(s"$what: $m")) }
    }
    phase("set-up done")
    // Untimed warm-up for as long as the measured window (one operation
    // at least): JIT, code generation and first-touch caches settle.
    var i = 0
    val w0 = System.nanoTime()
    while (i == 0 || (System.nanoTime() - w0) / 1e9 < seconds) {
      val k = i
      attempt(s"warm-up op $k") { w.op(k); w.checkOp(k) }
      i += 1
    }
    phase(s"warm-up done ($i ops)")

    val untraced, traced = ArrayBuffer[Double]()
    val gcPerOp = ArrayBuffer[Double]()
    var rows = 0L
    var persisted = (0.0, 0.0)
    val jiffies0 = Recorder.cpuJiffies()
    val t0 = System.nanoTime()
    // A traced run needs one traced and one untraced operation at least.
    while ((System.nanoTime() - t0) / 1e9 < seconds || (trace && untraced.isEmpty && failed == 0)) {
      // A traced run alternates traced and untraced operations, so the
      // difference of their medians is the tracing overhead.
      val tracedOp = trace && traced.length == untraced.length
      if (tracedOp) { rec.attach(); w.probe(i) }
      val gc0 = Recorder.gcMs()
      val s = System.nanoTime()
      val k = i
      attempt(s"op $k") {
        val r = rec.span("op", k)(w.op(k))
        val ms = (System.nanoTime() - s) / 1e6
        rows += r
        (if (tracedOp) traced else untraced) += ms
        if (tracedOp) gcPerOp += (Recorder.gcMs() - gc0).toDouble
        w.checkOp(k)
      }
      if (tracedOp) {
        rec.detach()
        val info = w.ctx.spark.sparkContext.getRDDStorageInfo
        persisted = (info.length.toDouble,
                     info.map(r => r.memSize + r.diskSize).sum / 1048576.0)
      }
      i += 1
    }
    val opMs = untraced.toSeq ++ traced
    val jiffies1 = Recorder.cpuJiffies()
    val steal = (jiffies1._1 - jiffies0._1).toDouble / math.max(1L, jiffies1._2 - jiffies0._2)
    phase(f"measured window done (steal ${steal * 100}%.1f %%)")
    val ends = try w.checkEnd() catch { case e: Throwable => Seq("checks" -> Seq(s"threw $e")) }
    ends.foreach { case (what, errs) => attempt(what)(errs) }
    val recall = w.recall
    val heap = Recorder.liveHeapMb()
    phase("checks done")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setupS), "s"),
        ("op_p50_ms", median(opMs), "ms"),
        ("rows_per_s", rows / (opMs.sum / 1e3), "1/s"),
        ("recall", recall, "ratio"),
        ("heap_live_mb", heap, "MB"))
      else {
        val layers = Layers.summarize(rec, cores) ++ w.probes() ++ Map(
          "jvm.gc_ms" -> median(gcPerOp.toSeq),
          "ckpt.persisted_rdds_after" -> persisted._1,
          "ckpt.persisted_mb_after" -> persisted._2,
          "trace.overhead_ms" -> (median(traced.toSeq) - median(untraced.toSeq)),
          "host.steal_frac" -> steal)
        spansOut.foreach(p => rec.write(java.nio.file.Paths.get(p)))
        Layers.Names.map(n => (n, layers.getOrElse(n, 0.0), Layers.unit(n)))
      }
    System.err.println(s"[perfbench] ${w.getClass.getSimpleName}: ${opMs.length} ops, " +
      s"setup ${setupS.map(x => f"$x%.2f").mkString(",")} s, op ms " +
      opMs.map(x => f"$x%.0f").mkString(","))
    Json.obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
  }
}
