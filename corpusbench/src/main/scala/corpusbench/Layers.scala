package corpusbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{CleanText, TurnAnalysis}
import graft.model.CleanConfig
import graft.pipeline.CleanPipeline
import graft.quality.{FilterConfig, Heuristics, LangId, Perplexity}
import graft.run.Materialize
import graft.scrub.Scrubber
import graft.transcript.{ConvGate, ConvOps, ExtractEntities, Pseudonymize, TurnDedup}

/** The traced run: per-layer metrics, measured apart from the timed runs.
  *
  *   - `kernel.*`: single-thread ns per turn of each pure kernel over the
  *     staged table's texts;
  *   - `functions.*`: rows/s of one native expression projected alone over
  *     the staged table into the noop sink;
  *   - `transcript.*` / `operators.*`: seconds of each public stage of the
  *     q96 composition, each run on the pinned output of the stage before;
  *     `transcript.compose_s` is the self time of a traced `sft_pack` pass;
  *   - `write.*`: files, MiB and commit time of a traced `checkpoint_write`
  *     pass;
  *   - `run.*`: [[PassListener]] counts over traced passes of the chosen
  *     workload, alternated with untraced ones for `--seconds`; the
  *     difference of the two medians is `trace.overhead_s`.
  *
  * Spans are written to `work/trace-<workload>-s<seed>.json` at the end.
  */
object Layers {

  def run(ctx: Workloads.Ctx, w: Workloads.Workload, ref: Reference.Ref): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    m ++= kernels(ctx)
    m ++= functions(ctx)
    m ++= stages(ctx)
    m ++= overhead(ctx, w, ref)
    if (w != Workloads.SftPack) tracedPass(ctx, Workloads.SftPack, ref, 1000)
    m("transcript.compose_s") = Stats.median(Spans.all.filter(_.name == Workloads.SftPack.name)
      .map(s => Spans.selfNs(s, Spans.all) / 1e9))
    m ++= write(ctx, w, ref)
    dump(ctx, w)
    m.toMap
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Median of `reps` timed calls after one untimed warm call. */
  private def medianSeconds(reps: Int)(body: => Unit): Double = {
    body
    Stats.median((1 to reps).map(_ => seconds(body)._2))
  }

  // -- kernel ------------------------------------------------------------

  private def kernels(ctx: Workloads.Ctx): Map[String, Double] = {
    val rows = ctx.input.df(ctx.spark).select("role", "text")
      .orderBy("conv_id", "turn_idx").collect()
    val raw = rows.map(_.getString(1))
    val roles = rows.map(_.getString(0))
    val chain = CleanPipeline.kernelChain(CleanConfig.transcriptDefault)
    val clean = raw.map(chain)
    val lang = clean.map(t => LangId.model.classify(t)._1)
    val ppl = clean.map(t => Perplexity.model.perplexity(t))
    val fcfg = FilterConfig()
    val n = raw.length.toDouble
    var sink = 0L // results feed a counter so no call is dead code
    def perTurn(f: Int => Any): Double = medianSeconds(3) {
      var i = 0
      while (i < raw.length) { sink += f(i).hashCode; i += 1 }
    } * 1e9 / n
    val out = Map(
      "kernel.clean_ns" -> perTurn(i => chain(raw(i))),
      "kernel.langid_ns" -> perTurn(i => LangId.model.classify(clean(i))),
      "kernel.ppl_ns" -> perTurn(i => Perplexity.model.perplexity(clean(i))),
      "kernel.rules_ns" -> perTurn(i =>
        Heuristics.ruleFailures(clean(i), roles(i), lang(i), ppl(i), fcfg)),
      "kernel.scrub_ns" -> perTurn(i => Scrubber.scrub(clean(i))),
      "kernel.entities_ns" -> perTurn(i => ExtractEntities.evalString(raw(i))))
    System.err.println(s"[corpusbench] kernels over ${raw.length} turns (checksum $sink)")
    out
  }

  // -- functions (native expressions) -------------------------------------

  private def functions(ctx: Workloads.Ctx): Map[String, Double] = {
    val df = ctx.input.df(ctx.spark)
    val n = df.count().toDouble
    def rowsPerS(c: org.apache.spark.sql.Column): Double =
      n / medianSeconds(3) { df.select(c.as("out")).write.format("noop").mode("overwrite").save() }
    Map(
      "functions.clean_text_rows_per_s" ->
        rowsPerS(CleanText(col("text"), CleanConfig.transcriptDefault)),
      "functions.turn_analysis_rows_per_s" ->
        rowsPerS(TurnAnalysis(col("text"), col("role"), FilterConfig())),
      "functions.scrub_text_rows_per_s" -> rowsPerS(Scrubber(col("text"))),
      "functions.extract_entities_rows_per_s" -> rowsPerS(ExtractEntities(col("text"))))
  }

  // -- transcript / operators: the q96 stages one at a time -----------------

  /** Two rounds (the first compiles and warms the stages); the second is
    * reported. Every stage reads the pinned output of the one before. */
  private def stages(ctx: Workloads.Ctx): Map[String, Double] = {
    val spark = ctx.spark
    def round(): Map[String, Double] = Spans.span("q96.stages") {
      def timed(key: String, name: String)(df: => DataFrame): (DataFrame, (String, Double)) = {
        val (pinned, s) = seconds(Spans.span(name)(Materialize.pin(df)))
        (pinned, key -> s)
      }
      val input = Materialize.pin(Workloads.SftPack.turnsMs(ctx))
      val (scrubbed, a) = timed("transcript.pseudonymize_s", "Pseudonymize.rewrite") {
        Pseudonymize.rewrite(spark, input, passThrough = Seq("role", "tool", "ts_ms"))
      }
      val (drops, b) = timed("transcript.turn_dedup_s", "TurnDedup.drops") {
        TurnDedup.drops(spark, scrubbed.select(col("conv_id"), col("turn_idx"),
          col("scrubbed").as("text")))
      }
      val survivors = Materialize.pin(
        scrubbed.join(broadcast(drops), Seq("conv_id", "turn_idx"), "left_anti"))
      val (gate, c) = timed("transcript.conv_gate_s", "ConvGate.signals") {
        ConvGate.signals(spark, survivors)
      }
      val assembleIn = Materialize.pin(survivors
        .join(broadcast(gate.where(col("keep")).select("conv_id")), Seq("conv_id"), "left_semi")
        .select(col("conv_id"), col("turn_idx"), col("role"), col("scrubbed").as("text"),
          col("tool"), col("ts_ms")))
      val (manifest, d) = timed("transcript.assemble_s", "ConvOps.assemble") {
        ConvOps.assemble(spark, assembleIn, 6)
      }
      val (_, e) = timed("operators.pack_s", "Pack.contiguous") {
        Workloads.SftPack.pack(Workloads.SftPack.weighted(manifest))
      }
      Materialize.releaseAll(spark)
      Map(a, b, c, d, e)
    }
    Spans.enabled = true
    try { round(); round() } finally Spans.enabled = false
  }

  // -- run: listener counts over traced passes ----------------------------

  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long)

  /** Per-pass scheduler and task counts. Events arrive on Spark's listener
    * bus; [[org.apache.spark.BusDrain]] waits for it before a pass is read. */
  final class PassListener extends SparkListener {
    private val tasks = mutable.ArrayBuffer.empty[Task]
    private var jobs, stages = 0
    private var shuffleBytes, shuffleRecords, spillBytes, busyMs, gcMs = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val runMs = if (m == null) 0L else m.executorRunTime
      tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, runMs)
      if (m != null) {
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        spillBytes += m.diskBytesSpilled
        busyMs += runMs
        gcMs += m.jvmGCTime
      }
    }

    def lastTaskEndMs: Long = synchronized(if (tasks.isEmpty) 0L else tasks.map(_.finish).max)

    def metrics(startMs: Long, endMs: Long, cores: Int): Map[String, Double] = synchronized {
      val wall = (endMs - startMs) / 1000.0
      // wall time with no task running: the pass minus the union of task spans
      val spans = tasks.map(t => (math.max(t.launch, startMs), math.min(t.finish, endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered, curA, curB = 0L
      curA = -1L
      spans.foreach { case (a, b) =>
        if (curA < 0) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (curA >= 0) covered += curB - curA
      val heaviest = tasks.groupBy(_.stage).values.toSeq.sortBy(-_.map(_.runMs).sum).headOption
      val skew = heaviest.map { ts =>
        val med = Stats.median(ts.map(_.runMs.toDouble).toSeq)
        if (med > 0) ts.map(_.runMs).max / med else 1.0
      }.getOrElse(1.0)
      Map(
        "run.jobs" -> jobs.toDouble,
        "run.stages" -> stages.toDouble,
        "run.tasks" -> tasks.size.toDouble,
        "run.shuffle_write_mb" -> shuffleBytes / 1048576.0,
        "run.shuffle_records" -> shuffleRecords.toDouble,
        "run.spill_mb" -> spillBytes / 1048576.0,
        "run.task_busy_s" -> busyMs / 1000.0,
        "run.gc_s" -> gcMs / 1000.0,
        "run.busy_ratio" -> busyMs / 1000.0 / (wall * cores),
        "run.driver_gap_s" -> (wall - covered / 1000.0),
        "run.task_skew" -> skew)
    }
  }

  /** Peak block-manager storage memory in use, sampled every 10 ms. */
  private final class StorageSampler(spark: SparkSession) extends Thread("corpusbench-storage") {
    @volatile var running = true
    @volatile var peak = 0L
    setDaemon(true)
    override def run(): Unit = while (running) {
      val used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      if (used > peak) peak = used
      Thread.sleep(10)
    }
    def finish(): Double = { running = false; join(); peak / 1048576.0 }
  }

  /** One traced pass (`i` numbers its output directory): listener, sampler
    * and spans on; verified after. Returns its seconds and `run.*` counts. */
  def tracedPass(ctx: Workloads.Ctx, w: Workloads.Workload, ref: Reference.Ref, i: Int)
      : (Double, Map[String, Double]) = {
    val sc = ctx.spark.sparkContext
    val l = new PassListener
    sc.addSparkListener(l)
    val sampler = new StorageSampler(ctx.spark)
    sampler.start()
    Spans.enabled = true
    val startMs = System.currentTimeMillis()
    val (out, wall) =
      try seconds(w.pass(ctx, i))
      finally Spans.enabled = false
    val endMs = System.currentTimeMillis()
    val storage = sampler.finish()
    org.apache.spark.BusDrain(sc)
    sc.removeSparkListener(l)
    require(w.verify(ctx, out, ref), s"traced ${w.name} pass gave a wrong result")
    val pins = w.cleanup(ctx, i)
    (wall, l.metrics(startMs, endMs, ctx.cores) ++ Map(
      "run.pins" -> pins.toDouble, "run.storage_peak_mb" -> storage))
  }

  private def overhead(ctx: Workloads.Ctx, w: Workloads.Workload, ref: Reference.Ref): Map[String, Double] = {
    val plain, traced = mutable.ArrayBuffer.empty[Double]
    val runs = mutable.ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + ctx.args.seconds * 1000000000L
    var i = 0
    while (i < 2 || System.nanoTime() < deadline) {
      val (out, s) = seconds(w.pass(ctx, 2000 + i))
      require(w.verify(ctx, out, ref), s"${w.name} pass gave a wrong result")
      w.cleanup(ctx, 2000 + i)
      plain += s
      val (s2, m) = tracedPass(ctx, w, ref, 2500 + i)
      traced += s2
      runs += m
      i += 1
    }
    runs.head.keys.map(k => k -> Stats.median(runs.map(_(k)).toSeq)).toMap +
      ("trace.overhead_s" -> (Stats.median(traced.toSeq) - Stats.median(plain.toSeq)))
  }

  // -- write ------------------------------------------------------------------

  private def write(ctx: Workloads.Ctx, w: Workloads.Workload, ref: Reference.Ref): Map[String, Double] = {
    val ck = Workloads.CheckpointWrite
    if (w != ck) { ck.pass(ctx, -1); ck.cleanup(ctx, -1) } // compile and warm the write path
    val sc = ctx.spark.sparkContext
    val l = new PassListener
    sc.addSparkListener(l)
    val out = ck.pass(ctx, 3000)
    val returnedMs = System.currentTimeMillis()
    org.apache.spark.BusDrain(sc)
    sc.removeSparkListener(l)
    require(ck.verify(ctx, out, ref), "checkpoint_write pass gave a wrong result")
    val files = listFiles(new File(out.outDir)).filter(_.getName.endsWith(".parquet"))
    val result = Map(
      "write.files" -> files.size.toDouble,
      "write.mb" -> files.map(_.length).sum / 1048576.0,
      "write.commit_s" -> (returnedMs - l.lastTaskEndMs) / 1000.0)
    ck.cleanup(ctx, 3000)
    result
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  private def dump(ctx: Workloads.Ctx, w: Workloads.Workload): Unit = {
    val all = Spans.all
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val lines = all.map { s =>
      f"""  {"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        f""""start_ms": ${(s.startNs - t0) / 1e6}%.3f, "dur_ms": ${(s.endNs - s.startNs) / 1e6}%.3f, """ +
        f""""self_ms": ${Spans.selfNs(s, all) / 1e6}%.3f}"""
    }
    val f = new File(s"${ctx.args.work}/trace-${w.name}-s${ctx.args.seed}.json")
    Files.write(f.toPath, lines.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[corpusbench] ${all.size} spans written to $f")
  }
}
