package corpusbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Turn
import graft.operators.Pack
import graft.run.{CheckpointedRun, Materialize, QualityFilter}
import graft.transcript.SftPipeline

/** Order-independent fingerprint of a row set: row count, the sum of the
  * rows' xxhash64 reduced mod 2^31-1, and their XOR. The same expressions
  * fingerprint a pass's output (riding the timed job through `observe`) and
  * the reference rows, so the two are compared without collecting either. */
final case class Digest(n: Long, s: Long, x: Long)

object Digest {
  def aggs(cols: Seq[Column]): Seq[Column] = {
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)).as("n"), sum(pmod(h, lit(2147483647L))).as("s"),
      bit_xor(h).as("x"))
  }

  private def fromMap(m: String => Any): Digest = {
    def l(k: String): Long = Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    Digest(l("n"), l("s"), l("x"))
  }

  /** Digest of `df` by its own (untimed) job. */
  def of(df: DataFrame, cols: Seq[Column]): Digest = {
    val r = df.agg(aggs(cols).head, aggs(cols).tail: _*).head()
    fromMap(r.getAs[Any](_))
  }

  /** Runs `sink` on `df` with the digest riding its job; returns the digest. */
  def observing(df: DataFrame, cols: Seq[Column])(sink: DataFrame => Unit): Digest = {
    val obs = Observation()
    sink(df.observe(obs, aggs(cols).head, aggs(cols).tail: _*))
    fromMap(obs.get)
  }

  /** The flagship verdict per turn: (conv_id, turn_idx, keep, scrubbed_text). */
  val turnCols: Seq[Column] = Seq(col("conv_id").cast("string"),
    col("turn_idx").cast("int"), col("keep").cast("boolean"),
    col("scrubbed_text").cast("string"))

  /** The q96 packing row: (shard, conv_id, turn_idx, weight, bin). */
  val packCols: Seq[Column] = Seq(col("shard").cast("long"),
    col("conv_id").cast("string"), col("turn_idx").cast("int"),
    col("weight").cast("long"), col("bin").cast("long"))
}

object Workloads {

  final case class Ctx(spark: SparkSession, input: Input.Staged, args: Main.Args, cores: Int) {
    def turns: Dataset[Turn] = {
      import spark.implicits._
      input.df(spark).as[Turn]
    }
  }

  /** What a pass leaves for its (untimed) verification. */
  final case class PassOut(
      digest: Digest = null,
      buckets: Map[Int, (Long, Long)] = Map.empty,
      outDir: String = null)

  trait Workload {
    def name: String
    /** Untimed passes inside set-up. The JIT keeps speeding passes up for
      * tens of seconds (regex and model kernels, generated code), so the
      * count is per workload: enough that the timed passes stop drifting. */
    def warmup: Int
    /** One pass from table scan to complete result; `i` < 0 for warm-up. */
    def pass(ctx: Ctx, i: Int): PassOut
    def verify(ctx: Ctx, out: PassOut, ref: Reference.Ref): Boolean
    /** Untimed pass hygiene; returns the number of pins released. */
    def cleanup(ctx: Ctx, i: Int): Int = Materialize.releaseAll(ctx.spark)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The north-star job: keep/drop + scrub over every turn, to the noop
    * sink. The digest rides the timed job. */
  object Flagship extends Workload {
    val name = "flagship"
    val warmup = 6
    def pass(ctx: Ctx, i: Int): PassOut = Spans.span(name) {
      val df = Spans.span("QualityFilter.apply") { QualityFilter(ctx.spark, ctx.turns) }
      PassOut(digest = Spans.span("sink") { Digest.observing(df, Digest.turnCols)(noop) })
    }
    def verify(ctx: Ctx, out: PassOut, ref: Reference.Ref): Boolean =
      out.digest == ref.filter
  }

  /** q96: the SFT manifest (scrub, turn dedup, conversation gate, context
    * assembly) packed into 4096-weight bins over 8 shards, to the noop
    * sink. The final ORDER BY of q96 is left out: the sink has no order. */
  object SftPack extends Workload {
    val name = "sft_pack"
    val warmup = 3

    def weighted(manifest: DataFrame): DataFrame = manifest.select(
      expr("cast(substring(conv_id, 6) as bigint) % 8").as("shard"),
      col("conv_id"), col("turn_idx"),
      (length(col("context")).cast("long") + 64L).as("weight"))

    def pack(weightedDf: DataFrame): DataFrame =
      Pack.contiguous(weightedDf, Seq("shard"), "conv_id", "weight",
        budget = 4096L, tieCols = Seq("turn_idx"))
        .select("shard", "conv_id", "turn_idx", "weight", "bin")

    def turnsMs(ctx: Ctx): DataFrame = ctx.input.df(ctx.spark).select(
      col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"),
      unix_millis(col("ts")).as("ts_ms"))

    def pass(ctx: Ctx, i: Int): PassOut = Spans.span(name) {
      val man = Spans.span("SftPipeline.manifest") {
        SftPipeline.manifest(ctx.spark, turnsMs(ctx))
      }
      val packed = Spans.span("Pack.contiguous") { pack(weighted(man)) }
      PassOut(digest = Spans.span("sink") { Digest.observing(packed, Digest.packCols)(noop) })
    }
    def verify(ctx: Ctx, out: PassOut, ref: Reference.Ref): Boolean =
      out.digest == ref.sft
  }

  /** The production job shape: the flagship chain written as 32
    * conv_id-hash buckets with a partition commit and a manifest, into an
    * empty directory every pass (a directory with every bucket committed
    * makes `run` return without work). */
  object CheckpointWrite extends Workload {
    val name = "checkpoint_write"
    val warmup = 3
    val buckets = 32

    def dir(ctx: Ctx, i: Int): File = new File(s"${ctx.args.work}/ckpt/pass$i")

    def pass(ctx: Ctx, i: Int): PassOut = Spans.span(name) {
      val out = dir(ctx, i)
      require(!out.exists(), s"$out is not empty")
      val entries = Spans.span("CheckpointedRun.run") {
        CheckpointedRun.run(ctx.spark, ctx.turns, out.getPath, buckets)
      }
      PassOut(buckets = entries.map(e => e.bucket -> (e.rows, e.kept)).toMap,
        outDir = out.getPath)
    }

    /** The manifest's per-bucket rows and kept counts, then a read-back of
      * the written table, both against the sequential reference. */
    def verify(ctx: Ctx, out: PassOut, ref: Reference.Ref): Boolean = {
      val want = (0 until buckets).map(b => b -> ref.buckets.getOrElse(b, (0L, 0L))).toMap
      out.buckets == want &&
        Digest.of(ctx.spark.read.parquet(out.outDir), Digest.turnCols) == ref.filter
    }

    override def cleanup(ctx: Ctx, i: Int): Int = {
      Input.deleteTree(dir(ctx, i))
      super.cleanup(ctx, i)
    }
  }

  val all: Seq[Workload] = Seq(Flagship, SftPack, CheckpointWrite)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (known: ${all.map(_.name).mkString(", ")})"))
}
