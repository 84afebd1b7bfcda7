package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One op's outcome. A failed op keeps its record (it counts as attempted
  * and failed) but the harness takes no latency sample from it. */
final case class OpRec(run: Int, name: String, kind: String, traced: Boolean,
    latS: Double, ok: Boolean, err: String)

/** Shared state of one benchmark process. One client thread drives every
  * call, closed loop: the next op starts only when the previous returned. */
final class Ctx(val spark: SparkSession, val args: Map[String, String], val cpus: Int,
    val tracer: Tracer) {
  val data: String = args("data")
  val work: String = args("work")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var run = -1
  var traced = false
  private var untimedNs = 0L

  /** Time one call into a layer. A throw is recorded as a failed op and
    * swallowed, so one broken op never hides the rest of the run. */
  def op[A](name: String, kind: String, span: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    try {
      val a = tracer.span(span, s"r$run/$name")(body)
      ops += OpRec(run, name, kind, traced, (System.nanoTime() - t0) / 1e9, ok = true, "")
      Some(a)
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
          .take(1).mkString.take(200)
        System.err.println(s"[perfbench] $name FAILED: $msg")
        ops += OpRec(run, name, kind, traced, (System.nanoTime() - t0) / 1e9, ok = false, msg)
        None
    }
  }

  /** Benchmark-side work inside a run (output checks, GC nudges) that is
    * not part of the measured run time. */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span("bench.untimed", s"r$run/untimed")(body)
    finally untimedNs += System.nanoTime() - t0
  }
  def takeUntimedNs(): Long = { val u = untimedNs; untimedNs = 0L; u }

  /** Mark an op failed after the fact: its output did not match. */
  def mismatch(name: String, why: String): Unit = {
    System.err.println(s"[perfbench] $name MISMATCH: $why")
    val i = ops.lastIndexWhere(o => o.name == name && o.run == run)
    if (i >= 0) ops(i) = ops(i).copy(ok = false, err = s"mismatch: $why")
  }
}

trait Workload {
  /** Inputs derived from the seed, cached where the seed does not matter.
    * Not part of setup_s. */
  def prepare(ctx: Ctx): Unit
  /** Warm JIT, codegen and scans so the first timed op measures the op. */
  def warmup(ctx: Ctx): Unit
  /** One run, from input to a complete result. */
  def run(ctx: Ctx): Unit
  /** Output checks, once per invocation, after the timed runs. */
  def check(ctx: Ctx): Unit
  /** Extra layer measurements made only by a traced invocation. */
  def tracedOnly(ctx: Ctx): Unit = ()
}

object Main {
  /** Order-insensitive content checksum over every column: row count and
    * the decimal sum of a 64-bit hash of each row's string form. */
  def checksum(df: DataFrame): (Long, String) = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(struct(pos.columns.map(col): _*).cast("string")).cast("decimal(38,0)")
    val r = pos.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** The session confs of graft.Bench, plus the scratch and warehouse
    * directories kept inside the benchmark's work dir. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val benchConfs: Seq[String] = Seq("spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone", "spark.sql.codegen.cache.maxEntries",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "spark.master")

  /** graft.Bench's single-thread box-speed stamp: register arithmetic only,
    * one discarded JIT pass, then the fastest of three. */
  def calibration(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < (1 << 27)) {
        x = java.lang.Long.rotateLeft(x * 0x2545F4914F6CDD1DL, 31) ^ (x >>> 17)
        i += 1
      }
      if (x == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    pass()
    (1 to 3).map(_ => pass()).min
  }

  /** Heap in use after a full GC. The pause lets Spark's cleaner and
    * listener threads drop what the finished run left them to release. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val jvmToMainS = (mainMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = a("workload") match {
      case "catalog" => Catalog
      case "txlog_rw" => TxlogRw
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val trace = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors

    // setup_s = JVM start to main + the median session bring-up + warmup.
    // The session is brought up three times and the last one kept: the
    // first is cold (Spark's own class loading and first codegen, which no
    // change to this repository moves), the median is a warm one, so one
    // slow cold start does not move setup_s. The repository's own classes
    // load and warm in the warmup, which is counted.
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      spark.range(1000).selectExpr("sum(id)").collect()
      sessionS += (System.nanoTime() - t0) / 1e9
      if (i < 2) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, a, cpus, tracer)

    val tp = System.nanoTime()
    workload.prepare(ctx)
    val prepareS = (System.nanoTime() - tp) / 1e9
    val tw = System.nanoTime()
    ctx.takeUntimedNs()
    workload.warmup(ctx)
    // the warmup's own output checks are left out, as they are from run_s,
    // and its ops are not samples
    val warmupS = (System.nanoTime() - tw - ctx.takeUntimedNs()) / 1e9
    ctx.ops.clear()
    ctx.extra.clear()
    System.err.println(f"[perfbench] session ${sessionS.mkString(",")} s, " +
      f"inputs $prepareS%.1f s, warmup $warmupS%.1f s")

    // Closed loop: whole runs until their measured time (the benchmark's own
    // checks and heap probes left out) reaches --seconds, at least one. A
    // traced invocation alternates untraced and traced runs (at least
    // untraced, traced, untraced), so the tracing overhead is measured in one
    // process against untraced runs on both sides of it.
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    var measured = 0.0
    var r = 0
    while (r == 0 || measured < ctx.seconds || (trace && r < 3)) {
      ctx.run = r
      ctx.traced = trace && r % 2 == 1
      tracer.active = ctx.traced
      ctx.takeUntimedNs()
      val t0 = System.nanoTime()
      tracer.span("run", s"r$r")(workload.run(ctx))
      val wall = (System.nanoTime() - t0 - ctx.takeUntimedNs()) / 1e9
      measured += wall
      runs += Map("idx" -> r, "traced" -> ctx.traced, "run_s" -> wall,
        "heap_mb" -> heapAfterGcMb())
      System.err.println(f"[perfbench] run $r (traced=${ctx.traced}) $wall%.2f s")
      r += 1
    }
    tracer.active = false
    val measureS = (System.nanoTime() - start) / 1e9
    val calibrationS = calibration()
    if (trace) {
      tracer.active = true
      ctx.traced = true
      workload.tracedOnly(ctx)
      tracer.active = false
    }
    val tc = System.nanoTime()
    workload.check(ctx)
    val checkS = (System.nanoTime() - tc) / 1e9
    tracer.close()

    val confs = benchConfs.map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap
    val out = Map(
      "workload" -> a("workload"), "seed" -> ctx.seed, "trace" -> trace, "cpus" -> cpus,
      "confs" -> confs, "calibration_s" -> calibrationS,
      "jvm_to_main_s" -> jvmToMainS, "session_s" -> sessionS, "prepare_s" -> prepareS,
      "warmup_s" -> warmupS, "measure_s" -> measureS, "check_s" -> checkS,
      "spark_version" -> spark.version, "runs" -> runs,
      "ops" -> ctx.ops.map(o => Map("run" -> o.run, "name" -> o.name, "kind" -> o.kind,
        "traced" -> o.traced, "lat_s" -> o.latS, "ok" -> o.ok, "err" -> o.err)),
      "checks" -> ctx.checks, "extra" -> ctx.extra, "spans" -> tracer.spans.map(_.toMap))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(a("out")), out)
    spark.stop()
  }
}
