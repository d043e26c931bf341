package corpusbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.run.GraftSession

/** The benchmark JVM, started by `run.py`.
  *
  * Set-up, timed from process start: session start, the lazy LangId /
  * Perplexity model build and the workload's warm-up passes. Staging the
  * input (cached per size and seed) is excluded from it, and the
  * references are computed after it.
  *
  * Then either the timed passes (`--trace 0`) or the per-layer
  * measurements ([[Layers]], `--trace 1`). The result is one flat JSON
  * object written to `--out`.
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      work: String,
      repo: String,
      python: String,
      convs: Long,
      out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("work"), get("repo"), get("python"), get("convs").toLong, get("out"))
  }

  /** Milliseconds since this JVM started (process start, not main()). */
  def sinceStartMs(): Long =
    System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime

  def session(work: String, cores: Int): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .appName("corpusbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.scratchDir", s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val workload = Workloads.byName(a.workload)
    var excludedMs = 0L
    def excluded[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally excludedMs += (System.nanoTime() - t0) / 1000000
    }

    val spark = session(a.work, cores)
    val input = excluded(Input.stage(spark, a.work, a.convs, a.seed))
    val ctx = Workloads.Ctx(spark, input, a, cores)
    (1 to workload.warmup).foreach { i => workload.pass(ctx, -i); workload.cleanup(ctx, -i) }
    val setupS = (sinceStartMs() - excludedMs) / 1000.0

    val ref = Reference.load(ctx, needSft = workload == Workloads.SftPack || a.trace)
    val result =
      if (a.trace) Layers.run(ctx, workload, ref)
      else timed(ctx, workload, ref) + ("setup_s" -> setupS)
    Files.write(Paths.get(a.out), Json.obj(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Heap in use after a full GC. Released pins, broadcasts and shuffles
    * are freed by Spark's ContextCleaner only after a GC has queued their
    * driver-side handles, so collect, give the cleaner a moment, collect
    * again. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU seconds the hypervisor gave to other guests while this machine
    * wanted to run (all CPUs; the `steal` column of /proc/stat, 0 where
    * it is not reported). */
  def stolenS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong / 100.0 finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0.0 }

  final case class Sample(wall: Double, cpu: Double, stolen: Double, correct: Boolean)

  /** Closed-loop passes for `--seconds` (at least three): each pass starts
    * when the previous one, its untimed verification, clean-up and full GC
    * have finished.
    *
    * Timings are medians over the correct passes that lost under 2% of the
    * machine's CPU time to other guests (`stolenS`); on a shared host a
    * burst of steal slows every pass it overlaps by up to 50% and says
    * nothing about the program. With fewer than three such passes, all
    * correct passes count, and with none, all passes that completed. */
  private def timed(
      ctx: Workloads.Ctx,
      workload: Workloads.Workload,
      ref: Reference.Ref): Map[String, Double] = {
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val samples = mutable.ArrayBuffer.empty[Sample]
    val heaps = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    val deadline = System.nanoTime() + ctx.args.seconds * 1000000000L
    while (attempted < 3 || System.nanoTime() < deadline) {
      attempted += 1
      val (c0, s0, t0) = (osBean.getProcessCpuTime, stolenS(), System.nanoTime())
      try {
        val out = workload.pass(ctx, attempted)
        val (wall, cpu, stolen) = ((System.nanoTime() - t0) / 1e9,
          (osBean.getProcessCpuTime - c0) / 1e9, stolenS() - s0)
        val correct = workload.verify(ctx, out, ref)
        if (!correct) System.err.println(s"[corpusbench] pass $attempted: wrong result")
        samples += Sample(wall, cpu, stolen, correct)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[corpusbench] pass $attempted failed: $e")
      }
      workload.cleanup(ctx, attempted)
      heaps += retainedHeapMb()
    }
    if (samples.isEmpty) throw new IllegalStateException("every pass threw")
    val correct = samples.filter(_.correct)
    val quiet = correct.filter(s => s.stolen < 0.02 * s.wall * ctx.cores)
    val timedOn = if (quiet.size >= 3) quiet else if (correct.nonEmpty) correct else samples
    System.err.println(s"[corpusbench] ${workload.name}: pass seconds " +
      samples.map(s => f"${s.wall}%.3f (stolen ${s.stolen}%.2f)").mkString(", ") +
      s"; ${timedOn.size} of $attempted passes timed")
    val walls = timedOn.map(_.wall).toSeq
    Map(
      "wall_s" -> Stats.median(walls),
      "turns_per_s" -> Stats.median(walls.map(ref.turns / _)),
      "cpu_s" -> Stats.median(timedOn.map(_.cpu).toSeq),
      "heap_retained_mb" -> Stats.median(heaps.toSeq),
      "ok_rate" -> correct.size.toDouble / attempted,
      "attempted" -> attempted.toDouble,
      "failed" -> (attempted - correct.size).toDouble)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\": " + num(v) }
      .mkString("{", ", ", "}")
}

/** The staged transcript table: `TranscriptGen.dataset` written to parquet
  * once per (seed, size) and re-scanned by every pass. */
object Input {
  final case class Staged(path: String, convs: Long, seed: Long) {
    def df(spark: SparkSession): DataFrame = spark.read.parquet(path)
  }

  def stage(spark: SparkSession, work: String, convs: Long, seed: Long): Staged = {
    val dir = new File(s"$work/cache/turns-c$convs-s$seed")
    if (!new File(dir, "_SUCCESS").exists()) {
      val tmp = new File(dir.getPath + ".tmp")
      deleteTree(tmp)
      deleteTree(dir)
      graft.gen.TranscriptGen.dataset(spark, convs, megaTurns = 0, seed = seed)
        .toDF()
        .coalesce(Runtime.getRuntime.availableProcessors())
        .write.parquet(tmp.getPath)
      if (!tmp.renameTo(dir)) throw new IllegalStateException(s"cannot rename $tmp")
    }
    Staged(dir.getPath, convs, seed)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
