package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one timed op hands back: the input rows it completed, and the
  * correctness checks to run on its outputs once its clock has stopped.
  * `check` returns the failed checks' messages. */
final case class OpResult(rows: Long, check: () => Seq[String])

/** Sums the per-layer quantities a workload can only see from its own
  * calls (iterations run, rows pushed through a kernel, bytes written,
  * recall hits). Reset once the warm-up is over. */
final class Stats {
  private val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = m(k) += v
  def apply(k: String): Double = m(k)
  def clear(): Unit = m.clear()
}

/** One workload: inputs generated from the seed, loaded once per
  * session, then served by identical rounds of ops. */
trait Workload {
  /** Writes the seeded inputs under `dir` (plain Scala, no Spark). */
  def generate(dir: Path, seed: Long): Unit
  /** Loads and caches the inputs on a fresh session (part of set-up). */
  def prepare(spark: SparkSession, t: Tracer, st: Stats, work: Path): Unit
  /** Untimed ops that warm the JVM and Spark's code paths. */
  def warmUp(): Unit
  /** Timed work done once before the ops, with the rows it processed
    * (0 = none, and rows_per_s is then taken from the ops). */
  def build(): OpResult = OpResult(0L, () => Nil)
  /** Ops per round; every run executes whole rounds. */
  def opsPerRound: Int
  /** The run's i-th timed op (0-based, counting across rounds). */
  def op(i: Int): OpResult
  /** Traced runs only: untimed counts that need extra Spark work. */
  def audit(): Unit = ()
  def release(): Unit
}

object Main {
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, s"--seconds must be >= 1, got $seconds")
    Opts(need("workload"), need("seed").toLong, seconds, trace,
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath)
  }

  def workloadFor(name: String): Workload = name match {
    case "gene_cluster" => new GeneCluster
    case "vector_index" => new VectorIndex
    case "corpus_curation" => new CorpusCuration
    case other => sys.error(s"unknown workload $other")
  }

  /** At most nproc task threads, and no more than four. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Heap in use after a full collection: what the run retains, free
    * of the collector's timing (the peak of all heap use, garbage
    * included, moved by a third between runs of identical code). */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = workloadFor(o.workload)
    Files.createDirectories(o.work)
    wl.generate(o.work.resolve("input"), o.seed)

    // the peak of the live heap, taken after set-up, build and every op
    var peakHeap = 0.0
    val tracer = new Tracer(o.trace)
    val stats = new Stats
    // set-up is repeated and its median reported: the first includes
    // JVM class loading and JIT, the later ones the same steps warm
    val setups = (1 to SetupReps).map { rep =>
      val (parts, whole) = Clock.timed {
        val (spark, session_) = Clock.timed { val s = session(o.work); tracer.attach(s); s }
        val (_, inputs) = Clock.timed(tracer.inPhase("setup")(wl.prepare(spark, tracer, stats, o.work)))
        val (_, warm) = Clock.timed(tracer.inPhase("setup")(wl.warmUp()))
        (spark, Seq(session_, inputs, warm))
      }
      val (spark, Seq(s1, s2, s3)) = parts
      peakHeap = math.max(peakHeap, liveHeapMb())
      System.err.println(f"[perfbench] set-up $rep: $whole%.2f s " +
        f"(session $s1%.2f, inputs $s2%.2f, warm-up $s3%.2f)")
      if (rep < SetupReps) { wl.release(); spark.stop() }
      whole
    }
    stats.clear()

    val spark = SparkSession.active
    val (built, buildTime) = Clock.timed(tracer.inPhase("build")(tracer.span("build")(wl.build())))
    val buildRows = built.rows
    peakHeap = math.max(peakHeap, liveHeapMb())
    val buildBad = tracer.inPhase("check")(built.check())
    buildBad.foreach(b => System.err.println(s"[perfbench] check failed (build): $b"))

    // whole rounds only; a round that would end past the deadline (by
    // the last round's length) is not started, so a run measures at
    // most --seconds of ops unless its first round alone takes longer
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var lastRound = 0L
    val opSecs = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var attempted = 0L
    var failed = 0L
    var wrong = buildBad.nonEmpty
    do {
      val r0 = System.nanoTime()
      for (_ <- 0 until wl.opsPerRound) {
        val i = attempted.toInt
        attempted += 1
        val (res, opTime) = Clock.timed {
          try Right(tracer.inPhase("op")(tracer.span("op")(wl.op(i))))
          catch { case e: Exception => Left(e) }
        }
        res match {
          case Left(e) =>
            failed += 1
            System.err.println(s"[perfbench] op $i failed: $e")
          case Right(r) =>
            System.err.println(f"[perfbench] op $i: $opTime%.3f s")
            peakHeap = math.max(peakHeap, liveHeapMb())
            val bad = tracer.inPhase("check")(r.check())
            if (bad.nonEmpty) {
              failed += 1; wrong = true
              bad.foreach(b => System.err.println(s"[perfbench] check failed (op $i): $b"))
            } else { opSecs += opTime; rows += r.rows }
        }
      }
      lastRound = System.nanoTime() - r0
    } while (System.nanoTime() + lastRound <= deadline)
    val timedOps = opSecs.length
    if (o.trace) tracer.inPhase("audit")(wl.audit())
    tracer.drain()

    val ops = math.max(1L, attempted).toDouble
    val opC = tracer.phaseCounters("op")
    val e2e = Seq(
      ("setup_s", median(setups), "s"),
      ("op_p50_s", median(opSecs.toSeq), "s"),
      ("rows_per_s",
        if (buildRows > 0) buildRows / buildTime else rows / math.max(1e-9, opSecs.sum),
        "rows/s"),
      ("peak_heap_mb", peakHeap, "MB"),
      ("jobs_per_op", opC.jobs / ops, "count"),
      ("shuffle_kb_per_op", opC.shuffleWrite / 1024.0 / ops, "KB"))
    val metrics =
      if (!o.trace) e2e
      else Layers.metrics(tracer, stats, attempted.toInt)

    if (o.trace) {
      Files.createDirectories(o.out)
      val f = o.out.resolve(s"trace-${o.workload}-s${o.seed}.json")
      Files.writeString(f, Layers.traceJson(tracer, o.workload, o.seed, e2e, metrics))
      System.err.println(s"[perfbench] trace written to $f")
    }
    System.err.println(s"[perfbench] ${o.workload} seed=${o.seed}: $attempted ops " +
      s"($timedOps timed, $failed failed), setups ${setups.map(s => f"$s%.3f").mkString(",")} s")
    spark.stop()

    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${!wrong}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
  }
}
