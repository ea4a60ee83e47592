package vcbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** Latencies, item counts and failures of one closed loop. */
final class Meter {
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var items = 0L
  var attempted = 0L
  var failed = 0L
  var refused = 0L
  /** Time spent in layer probes that only the traced run makes; it is
    * left out of the traced loop's rate. */
  var probeNs = 0L
  /** Traced runs only: SQL requests, those the planner served from an
    * index, and the rows they returned. */
  var sqlRequests = 0L
  var served = 0L
  var resultRows = 0L
  /** The ranges of loop steps this meter timed, [first, end). */
  val steps = mutable.ArrayBuffer.empty[(Long, Long)]
  def endStep: Long = if (steps.isEmpty) 0L else steps.last._2
  def owns(step: Long): Boolean = steps.exists(r => step >= r._1 && step < r._2)
  val failures = mutable.ArrayBuffer.empty[String]

  /** Runs one request of `kind`, timing it. A request that throws counts
    * as failed; one the engine rejects as an invalid request (its loud
    * `require` guards) counts as refused too. */
  def request[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case e: IllegalArgumentException =>
        failed += 1; refused += 1; failures += s"$kind refused: ${e.getMessage}"; None
      case NonFatal(e) =>
        failed += 1; failures += s"$kind failed: $e"; None
    }
  }

  def probe[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally probeNs += System.nanoTime() - t0
  }

  /** Mean over request kinds of each kind's median latency: a mix of
    * kinds with different costs has no stable single median. */
  def p50Ms: Double = {
    val meds = latencies.values.filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).toSeq
    if (meds.isEmpty) Double.NaN else meds.sum / meds.length
  }
}

/** The output checks of one run. A failed check is printed at once and
  * makes the run's `correct` false. */
final class Checks {
  val failures = mutable.ArrayBuffer.empty[String]
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) {
      if (failures.length < 20) System.err.println(s"[vcbench] CHECK FAILED: $what")
      failures += what
    }
  def passed: Boolean = failures.isEmpty
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val work: Path, val truthDir: Path) {
  val checks = new Checks
  val tracer = new Tracer(spark.sparkContext)
  def dir(name: String): String = work.resolve(name).toString
}

/** A workload: seeded inputs, a repeatable engine set-up, and a closed
  * loop with one client. */
trait Workload {
  /** Generates inputs and stages them as tables; not timed. */
  def prepare(ctx: Ctx): Unit
  /** One engine set-up into fresh state; `rep` numbers the repetition.
    * The last one made serves the loop. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Untimed requests that let JIT, codegen and caches settle. */
  def warm(ctx: Ctx): Unit
  /** Request `i` of the loop. */
  def step(ctx: Ctx, m: Meter, i: Long): Unit
  /** Checks every answer against exact answers and returns
    * (recall, details) for the loop `m`; runs after the loop. */
  def verify(ctx: Ctx, m: Meter): (Double, Map[String, Double])
  /** Per-layer metrics of the traced loop. */
  def layers(ctx: Ctx, m: Meter): Map[String, Double]
}

object Main {
  val SetupReps = 3

  private def usage(msg: String): Nothing = {
    System.err.println(s"vcbench: $msg\nusage: --workload <${Workloads.names.mkString("|")}> " +
      "--seed <n> --seconds <n> --trace <0|1> [--work <dir>]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => usage(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val name = opts.getOrElse("workload", usage("--workload is required"))
    val workload = Workloads.byName.getOrElse(name, usage(s"unknown workload '$name'"))
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage("--seed must be an integer"))
    val seconds = opts.get("seconds").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(usage("--seconds must be a positive integer"))
    val trace = opts.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got $t")
    }
    val work = Paths.get(opts.getOrElse("work", "vcbench/work")).toAbsolutePath
    val result = run(workload, name, seed, seconds, trace, work)
    println(result)
    // a failed check fails the run loudly, after its result line
    if (!result.contains("\"correct\":true")) sys.exit(1)
  }

  def session(work: Path): SparkSession = {
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("vcbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  def run(w: Workload, name: String, seed: Long, seconds: Int, trace: Boolean,
          work: Path): String = {
    val runDir = work.resolve(s"run-$name-$seed")
    rm(runDir)
    Files.createDirectories(runDir)
    val spark = session(work)
    try {
      val ctx = new Ctx(spark, seed, seconds, runDir, work.resolve("truth"))
      graft.functions.GraftFunctions.registerAll(spark)
      spark.experimental.extraOptimizations :+= graft.plans.AnnTopKRewrite(spark)
      val t0 = System.nanoTime()
      def since(t: Long) = (System.nanoTime() - t) / 1e9
      w.prepare(ctx)
      val prepareS = since(t0)
      val setupS = (0 until SetupReps).map { rep =>
        val tRep = System.nanoTime()
        w.setup(ctx, rep)
        since(tRep)
      }
      val tWarm = System.nanoTime()
      w.warm(ctx)
      val warmS = since(tWarm)
      // a traced run measures a quarter of its time untraced, half traced
      // and the last quarter untraced again, so the overhead of tracing is
      // measured in one process and a steady drift cancels out
      val plain = new Meter
      val traced = new Meter
      var counterDeltas = Map.empty[String, Double]
      var plainS = loop(ctx, w, plain, if (trace) seconds / 4.0 else seconds.toDouble, 0L)
      var tracedS = 0.0
      if (trace) {
        ctx.tracer.enable()
        val before = counters
        tracedS = loop(ctx, w, traced, seconds / 2.0, plain.endStep)
        counterDeltas = counters.map { case (k, v) => k -> (v - before(k)).toDouble / math.max(1L, traced.attempted) }
        ctx.tracer.disable()
        plainS += loop(ctx, w, plain, seconds / 4.0, traced.endStep)
      }
      val tVerify = System.nanoTime()
      val (recall, detail) = w.verify(ctx, plain)
      if (trace) w.verify(ctx, traced)
      val verifyS = since(tVerify)
      val all = Seq(plain, traced)
      all.flatMap(_.failures).take(10).foreach(f => System.err.println(s"[vcbench] $f"))
      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("p50_ms", plain.p50Ms, "ms"),
          ("items_per_s", plain.items / plainS, "1/s"),
          ("recall", recall, "ratio"))
        else {
          val plainRate = plain.items / plainS
          val tracedRate = traced.items / (tracedS - traced.probeNs / 1e9)
          // the layer probes after the loop are traced too
          ctx.tracer.enable()
          val layer = w.layers(ctx, traced) ++ counterDeltas +
            ("trace.overhead_frac" -> (plainRate / tracedRate - 1))
          ctx.tracer.writeTo(work.resolve(s"spans-$name-$seed.jsonl"))
          Metrics.perLayer.map { case (n, unit) => (n, layer.getOrElse(n, 0.0), unit) }
        }
      val report = detail ++ Map(
        "attempted" -> all.map(_.attempted).sum.toDouble,
        "failed" -> all.map(_.failed).sum.toDouble,
        "refused" -> all.map(_.refused).sum.toDouble,
        "setup_reps_s_min" -> setupS.min, "setup_reps_s_max" -> setupS.max,
        "prepare_s" -> prepareS, "warm_s" -> warmS, "verify_s" -> verifyS)
      println(Json.obj("workload" -> Json.str(name), "seed" -> seed.toString,
        "detail" -> Json.obj(report.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*)))
      val correct = ctx.checks.passed && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
      Json.obj(
        "correct" -> correct.toString,
        "attempted" -> all.map(_.attempted).sum.toString,
        "failed" -> all.map(_.failed).sum.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
        }: _*))
    } finally {
      spark.stop()
      rm(runDir)
    }
  }

  /** The engine's public counters, read around the traced loop. */
  private def counters: Map[String, Long] = Map(
    "plans.planning_jobs" -> graft.plans.AnnTopKRewrite.planningJobs.get(),
    "index.range_delegations" -> graft.index.IvfIndex.rangeDelegations.get(),
    "index.range_scan_fallbacks" -> graft.index.IvfIndex.rangeScanFallbacks.get())

  /** Requests back to back until `seconds` have passed; returns the
    * seconds the loop took, the last request included. */
  private def loop(ctx: Ctx, w: Workload, m: Meter, seconds: Double, first: Long): Double = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var i = first
    while (System.nanoTime() < end) { w.step(ctx, m, i); i += 1 }
    m.steps += ((first, i))
    (System.nanoTime() - t0) / 1e9
  }

  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

/** Just enough JSON for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
