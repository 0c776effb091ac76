package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Sessions, SparkEntry, Tables, Verify}
import graft.sources.Stores

/** Drives one workload as a closed loop with one client: the next gate is
  * submitted only after the previous one returns. Each run is a fresh JVM:
  * set up once (timed from `main`, so the set-up is a cold one), run one
  * cold pass and one untimed warm pass, then a fixed number of steady
  * passes, then dump every gate's result through the unchanged
  * `graft.Verify` for the oracle check.
  *
  * A gate is timed the way `graft.Bench.runOnce` times it: the gate call,
  * then a `noop` sink. Between gates, outside the timed region, connector
  * stores are released and the heap is collected; the used heap after
  * that collection is the retained-heap sample.
  *
  * CPU time stolen from this VM by other tenants is read from /proc/stat
  * around the set-up, the cold pass and every steady pass. A steady pass
  * that lost more than `maxSteal` of the machine's CPU time is run again,
  * up to [[extraPasses]] times per run, so that every run keeps the same
  * number of steady passes. The set-up and the cold pass cannot be run
  * again in the same JVM: when `abortOnSteal` is 1 and they lost more than
  * `maxSteal`, the run stops with exit code [[Stolen]] and the caller
  * starts a fresh JVM.
  *
  * With tracing on, the cold pass and half the steady passes are traced:
  * the same calls are split into construct (the gate call), plan (the
  * noop write's analysis, optimization and physical planning) and execute
  * (the rest of the write), and [[Tracer]] records jobs, stages and
  * executions below them. The untraced steady passes give the overhead.
  *
  * Usage: Main <sfDir> <cores> <seed> <passes> <trace 0|1> <gates,...>
  *             <out.json> <verifyDir> <clockTicks/s> <maxSteal> <abortOnSteal 0|1>
  */
object Main {
  /** Exit code of a run stopped because its set-up or cold pass was stolen. */
  val Stolen = 3

  /** Steady passes a run may add to replace stolen ones. */
  def extraPasses(passes: Int): Int = passes / 2

  final case class GateRun(name: String, seconds: Double, ok: Boolean,
      error: String, heapMb: Double)

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val steal0 = Steal.ticks()
    val Array(sfDir, cores, seedArg, passesArg, traceArg, gatesArg, outPath,
      verifyDir, ticksArg, maxStealArg, abortArg) = args
    val traced = traceArg == "1"
    val steal = new Steal(ticksArg.toDouble)
    val maxSteal = maxStealArg.toDouble
    val all = SparkEntry.queries
    val gates = gatesArg.split(",").toSeq
    val missing = gates.filterNot(all.contains)
    require(missing.isEmpty, s"unknown gates: ${missing.mkString(",")}")

    val spark = Sessions.local(cores)
    val t1 = System.nanoTime()
    Tables.register(spark, sfDir)
    val t2 = System.nanoTime()
    val setup = Map("session_s" -> (t1 - mainStart) / 1e9,
      "register_s" -> (t2 - t1) / 1e9, "setup_s" -> (t2 - mainStart) / 1e9)

    val rng = new scala.util.Random(seedArg.toLong)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    /** Runs one pass and returns its steal share. */
    def pass(kind: String, trace: Boolean): Double = {
      // the cold pass keeps the listed order: its first gate pays the
      // JVM's first-use costs, so a permuted cold pass times another
      // sequence in every run
      val order = if (kind == "cold") gates else rng.shuffle(gates)
      val idx = passes.size
      val (c0, s0) = Tracer.codegen()
      val load = new Load(spark, sfDir, all)
      val tracer = if (trace) Some(new Tracer(spark)) else None
      tracer.foreach(_.start())
      val st0 = Steal.ticks()
      val t0 = System.nanoTime()
      val startMs = load.nowMs()
      val runs = order.zipWithIndex.map { case (g, i) => load.run(g, idx, i, tracer) }
      val wall = (System.nanoTime() - t0) / 1e9
      val share = steal.share(st0, Steal.ticks(), wall)
      tracer.foreach(_.span(s"p$idx", "run", "pass", null, startMs, load.nowMs()))
      val records = tracer.map(_.stop()).getOrElse(Nil)
      val (c1, s1) = Tracer.codegen()
      passes += Map("index" -> idx, "kind" -> kind, "traced" -> trace,
        "wall_s" -> wall, "steal_share" -> share,
        "compilations" -> (c1 - c0), "compile_s" -> (s1 - s0),
        "gates" -> runs.map(r => Map("name" -> r.name, "seconds" -> r.seconds,
          "ok" -> r.ok, "error" -> r.error, "heap_mb" -> r.heapMb)),
        "records" -> records)
      share
    }

    pass("cold", traced)
    val coldSteal = steal.share(steal0, Steal.ticks(), (System.nanoTime() - mainStart) / 1e9)
    if (abortArg == "1" && coldSteal > maxSteal) {
      spark.stop()
      System.err.println(f"set-up and cold pass lost $coldSteal%.3f of the CPU to steal")
      sys.exit(Stolen)
    }
    // untimed: the JIT is still compiling after the cold pass
    pass("warm", trace = false)

    // traced runs alternate untraced and traced passes in ABBA blocks, so
    // warm-up drift does not land on one side of the overhead
    val slots = if (traced) (passesArg.toInt + 3) / 4 * 4 else passesArg.toInt
    var extra = extraPasses(slots)
    for (slot <- 0 until slots) {
      val trace = traced && (slot % 4 == 1 || slot % 4 == 2)
      while (pass("steady", trace) > maxSteal && extra > 0) {
        passes(passes.size - 1) = passes.last.updated("kind", "stolen")
        extra -= 1
      }
    }

    val out = Map("cores" -> cores.toInt, "sf_dir" -> sfDir, "traced" -> traced,
      "setup" -> setup, "cold_steal_share" -> coldSteal, "passes" -> passes.toList)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(outPath).toFile, out)

    // outside every timed pass: each gate's result for the oracle check
    // (`Verify` stops the session)
    Stores.releaseAll()
    Verify.main(Array(sfDir, verifyDir, gates.mkString(",")))
  }
}

/** CPU time the hypervisor gave to other guests while this VM wanted to
  * run (the `steal` column of /proc/stat), as a share of the machine's CPU
  * time over a wall-clock interval. Reads 0 where /proc/stat is missing. */
final class Steal(ticksPerSecond: Double) {
  private val cpus = math.max(1, Steal.lines().count(_.matches("cpu[0-9]+ .*")))
  def share(ticks0: Long, ticks1: Long, wallSeconds: Double): Double =
    if (wallSeconds <= 0) 0.0 else (ticks1 - ticks0) / ticksPerSecond / (cpus * wallSeconds)
}

object Steal {
  private def lines(): Seq[String] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().toList finally src.close()
  } catch { case _: java.io.IOException => Nil }

  /** Total steal ticks of all CPUs so far. */
  def ticks(): Long = lines().find(_.startsWith("cpu ")) match {
    case Some(l) =>
      val f = l.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    case None => 0L
  }
}

/** Runs single gates against one session. */
final class Load(spark: SparkSession, sfDir: String,
    gates: Map[String, (SparkSession, String) => DataFrame]) {
  private val memory = ManagementFactory.getMemoryMXBean
  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  def nowMs(): Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  def run(name: String, pass: Int, i: Int, tracer: Option[Tracer]): Main.GateRun = {
    Stores.releaseAll()
    System.gc()
    val heapMb = memory.getHeapMemoryUsage.getUsed / 1048576.0
    val fn = gates(name)
    val t0 = System.nanoTime()
    try {
      tracer match {
        case None => fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        case Some(t) => traced(t, name, s"p${pass}g$i", s"p$pass", fn)
      }
      Main.GateRun(name, (System.nanoTime() - t0) / 1e9, ok = true, null, heapMb)
    } catch {
      case e: Throwable =>
        Main.GateRun(name, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getName}: ${e.getMessage}".take(300), heapMb)
    } finally spark.sparkContext.setLocalProperty(Tracer.SpanProperty, null)
  }

  /** The untraced gate with its phase boundaries recorded: construct is
    * the gate call, execute the noop write. The write's own planning is
    * split off the front of execute afterwards (perfbench/layers.py). */
  private def traced(t: Tracer, name: String, id: String, parent: String,
      fn: (SparkSession, String) => DataFrame): Unit = {
    val sc = spark.sparkContext
    def phase[T](kind: String)(body: => T): T = {
      val sid = s"$id.$kind"
      sc.setLocalProperty(Tracer.SpanProperty, sid)
      val s = nowMs()
      try body finally t.span(sid, id, kind, name, s, nowMs())
    }
    val start = nowMs()
    try {
      val df = phase("construct")(fn(spark, sfDir))
      phase("execute")(df.write.format("noop").mode("overwrite").save())
    } finally t.span(id, parent, "gate", name, start, nowMs())
  }
}
