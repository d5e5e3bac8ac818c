package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One foreground call: its layer and name, wall latency, whether it
  * ran traced, and whether it failed (threw or gave a wrong answer).
  */
final case class Op(layer: String, name: String, ns: Long, traced: Boolean, failed: Boolean)

/** Shared state of one benchmark run: the session, the generated
  * inputs under `data` with their `schedule`, and a scratch `work`
  * directory for the stores the workload builds.
  */
final class Ctx(val spark: SparkSession, val seconds: Int, val trace: Boolean,
    val data: String, val work: String) {
  val schedule: JsonNode = new ObjectMapper().readTree(new java.io.File(s"$data/schedule.json"))
  val tracer = new Tracer(spark.sparkContext)
  val ops = new ConcurrentLinkedQueue[Op]()
  val checkFailures = new ConcurrentLinkedQueue[String]()
  private val requestIds = new AtomicLong(0)
  /** Extra facts for the info line (sizes, counts). */
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Per-layer metrics a workload measures itself (recall, sizes). */
  val layerMetrics = mutable.LinkedHashMap.empty[String, Double]

  def newRequest(): Long = requestIds.incrementAndGet()

  /** Time one call into a graft module: `f` runs inside a span of
    * `layer` and returns its answer; `ok` checks it. A throw or a
    * failed check counts the op as failed; the run continues.
    */
  def call[T](layer: String, name: String, request: Long = 0L)(f: => T)(
      ok: T => Boolean): Option[T] = {
    val traced = tracer.on
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(layer, name, request)(f))
    catch { case e: Exception => Left(e) }
    val ns = System.nanoTime() - t0
    val good = r match {
      case Right(v) =>
        val passed = try ok(v) catch { case e: Exception =>
          checkFailures.add(s"$name: check threw $e"); false }
        if (!passed) checkFailures.add(s"$name: wrong answer")
        passed
      case Left(e) =>
        checkFailures.add(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    ops.add(Op(layer, name, ns, traced, !good))
    r.toOption
  }
}

/** Entry: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <dir> --work <dir> --spans <file> --launch-ns <epoch ns>
  * --gen-s <s>`, where `data` holds the generated inputs, `gen-s` is
  * the time their generation took and a traced run writes its spans
  * to `spans`. Prints an info line, then the result JSON as the last
  * line; exits 1 if any answer was wrong.
  */
object Main {

  /** Progress line on standard error (the run log). */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val launchNs = opts("launch-ns").toLong

    val spark = graft.Engine.session("perfbench")
    val sessionS = (System.currentTimeMillis() * 1000000L - launchNs) / 1e9
    log("session")
    val ctx = new Ctx(spark, seconds, trace, opts("data"), opts("work"))
    val wl: Workload = workload match {
      case "dashboard_serve" => new DashboardServe(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    wl.setup()
    val buildS = (System.nanoTime() - t0) / 1e9
    // calls made in set-up are checked and counted, but timed only
    // into setup_s
    val warmOps = ctx.ops.asScala.toSeq
    ctx.ops.clear()
    log("setup")
    val t1 = System.nanoTime()
    val units = wl.run()
    val windowS = (System.nanoTime() - t1) / 1e9
    ctx.tracer.on = false
    val liveMb = Stats.liveMb()
    log("window")

    val ops = ctx.ops.asScala.toSeq
    val untraced = ops.filterNot(_.traced)
    val failed = (warmOps ++ ops).count(_.failed)
    val attempted = warmOps.size + ops.size
    ctx.checkFailures.asScala.take(20).foreach(m => System.err.println(s"[check] $m"))
    val lat = untraced.filter(wl.inLatency).map(_.ns / 1e6).sorted
    val setupS = opts("gen-s").toDouble + sessionS + buildS
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("live_mb", liveMb, "MB"),
        ("ok_rate", 1.0 - failed.toDouble / math.max(1, attempted), "ok/op"),
        ("op_p50_ms", Stats.quantile(lat, 0.5), "ms"),
        ("op_tail_ms", Stats.quantile(lat, Stats.tailQuantile(lat.size)), "ms"),
        ("work_per_s", units.work / units.busyS, "1/s"))
      else new Report(ctx).perLayer(ops)

    ctx.info ++= Seq("workload" -> workload, "seed" -> opts("seed").toLong,
      "seconds" -> seconds, "trace" -> trace, "gen_s" -> opts("gen-s").toDouble,
      "session_s" -> sessionS, "build_s" -> buildS, "window_s" -> windowS,
      "warm_ops" -> warmOps.size, "ops" -> ops.size, "untraced_ops" -> untraced.size,
      "latency_ops" -> lat.size, "tail_quantile" -> Stats.tailQuantile(lat.size),
      "work_units" -> units.work, "work_busy_s" -> units.busyS, "live_mb" -> liveMb,
      "op_ms" -> ops.map(o => s"${o.name}:${o.ns / 1000000}").mkString(" "))
    if (trace) {
      ctx.tracer.dump(opts("spans"))
      ctx.info("spans") = opts("spans")
    }
    val json = new ObjectMapper()
    println("[info] " + json.writeValueAsString(ctx.info.asJava))
    val correct = failed == 0
    println(json.writeValueAsString(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u).asJava
      }: _*).asJava).asJava))
    System.out.flush()
    spark.stop()
    if (!correct) System.exit(1)
  }
}

/** Amount of foreground work a run completed: `work` units (requests,
  * input documents, committed rows) over `busyS` seconds.
  */
final case class Units(work: Double, busyS: Double)

trait Workload {
  /** Everything before the window: build the artifacts it runs against
    * from the generated inputs, compute the reference answers of the
    * checks, and warm the window's call paths with untimed calls.
    */
  def setup(): Unit
  /** The measured window. */
  def run(): Units
  /** Whether a call's latency enters op_p50_ms and op_tail_ms. */
  def inLatency(op: Op): Boolean = true
}

object Stats {
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** The highest quantile of `n` samples with at least ten samples
    * beyond it.
    */
  def tailQuantile(n: Int): Double = math.max(0.5, (n - 11).toDouble / math.max(1, n - 1))

  /** Live memory in MB: heap in use right after a full collection,
    * plus non-heap in use (metaspace, code cache). The first
    * collection lets Spark's cleaner drop the blocks of unreachable
    * checkpoints, the second frees them.
    */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Bytes under a local directory. */
  def bytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }
}
