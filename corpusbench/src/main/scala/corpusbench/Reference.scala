package corpusbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.run.QualityFilter

/** Expected outputs, from code independent of the pass under test, computed
  * once per (size, seed) and cached beside the staged table:
  *
  *   - `filter`: `QualityFilter.sequentialFull` (the plain single-threaded
  *     spec loop, run one conversation chunk per core) over the staged
  *     turns; its digest checks `flagship` and the read-back of
  *     `checkpoint_write`, and its per-bucket (rows, kept) counts check the
  *     checkpoint manifest;
  *   - `sft`: `tools/gen_pseudo_golden.py` over the staged table, then the
  *     q96 DuckDB SQL of `SparkEntry.oracleSql` over its output
  *     (`sft_oracle.py`).
  */
object Reference {

  final case class Ref(
      turns: Long,
      filter: Digest,
      buckets: Map[Int, (Long, Long)],
      sft: Digest)

  /** The sft reference is computed only when `needSft` (it is the costly one). */
  def load(ctx: Workloads.Ctx, needSft: Boolean): Ref = {
    val base = s"${ctx.args.work}/cache/ref-c${ctx.input.convs}-s${ctx.input.seed}"
    val turns = ctx.input.df(ctx.spark).count()
    val f = cached(s"$base-filter.txt")(filterRef(ctx))
    val s = if (needSft) cached(s"$base-sft.txt")(sftRef(ctx)) else Map.empty[String, Long]
    def d(m: Map[String, Long], k: String): Digest =
      if (m.isEmpty) null else Digest(m(s"$k.n"), m(s"$k.s"), m(s"$k.x"))
    val buckets = f.collect { case (k, v) if k.startsWith("bucket.") && k.endsWith(".rows") =>
      val b = k.stripPrefix("bucket.").stripSuffix(".rows").toInt
      b -> (v, f(s"bucket.$b.kept"))
    }
    Ref(turns, d(f, "filter"), buckets, d(s, "sft"))
  }

  /** `key=value` lines; written through a temp file so a killed run never
    * leaves a half-written reference. */
  private def cached(path: String)(compute: => Map[String, Long]): Map[String, Long] = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.readAllLines(p).asScala.filter(_.contains('=')).map { l =>
        val Array(k, v) = l.split("=", 2); k -> v.toLong
      }.toMap
    else {
      val m = compute
      val tmp = Paths.get(path + ".tmp")
      Files.write(tmp, m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      m
    }
  }

  private def digestMap(prefix: String, d: Digest): Map[String, Long] =
    Map(s"$prefix.n" -> d.n, s"$prefix.s" -> d.s, s"$prefix.x" -> d.x)

  private def filterRef(ctx: Workloads.Ctx): Map[String, Long] = {
    val spark = ctx.spark
    import spark.implicits._
    val convs = ctx.turns.collect().toSeq.groupBy(_.conv_id).values.toSeq
    val chunks = convs.grouped(math.max(1, (convs.size + ctx.cores - 1) / ctx.cores)).toSeq
    val pool = Executors.newFixedThreadPool(ctx.cores)
    val rows =
      try chunks
        .map(c => pool.submit(new Callable[Seq[QualityFilter.SeqEval]] {
          def call(): Seq[QualityFilter.SeqEval] = QualityFilter.sequentialFull(c.flatten)
        }))
        .flatMap(_.get())
      finally pool.shutdown()
    val df = rows.map(e => (e.conv_id, e.turn_idx, e.keep, e.scrubbed_text))
      .toDF("conv_id", "turn_idx", "keep", "scrubbed_text")
    val perBucket = df
      .groupBy(pmod(xxhash64(col("conv_id")), lit(Workloads.CheckpointWrite.buckets))
        .cast("int").as("b"))
      .agg(count(lit(1)).as("rows"), sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
      .collect()
      .flatMap(r => Seq(s"bucket.${r.getInt(0)}.rows" -> r.getLong(1),
        s"bucket.${r.getInt(0)}.kept" -> r.getLong(2)))
    digestMap("filter", Digest.of(df, Digest.turnCols)) ++ perBucket
  }

  private def sftRef(ctx: Workloads.Ctx): Map[String, Long] = {
    val dir = new File(s"${ctx.args.work}/cache/sft-c${ctx.input.convs}-s${ctx.input.seed}")
    Input.deleteTree(dir)
    dir.mkdirs()
    val raw = s"${new File(ctx.input.path).getAbsolutePath}/*.parquet"
    val pseudo = s"${dir.getAbsolutePath}/pseudo.parquet"
    val out = s"${dir.getAbsolutePath}/q96.parquet"
    // the oracle SQL names the committed sf0.01 fixtures; point it at this
    // run's staged table and pseudonymized golden instead
    def repoint(sql: String, file: String, to: String): String = {
      val re = s"read_parquet\\('[^']*/$file'\\)".r
      require(re.findFirstIn(sql).isDefined, s"q96 oracle SQL no longer reads $file")
      re.replaceAllIn(sql, java.util.regex.Matcher.quoteReplacement(s"read_parquet('$to')"))
    }
    val sql = repoint(repoint(graft.SparkEntry.oracleSql("q96_sft_pack"),
      "turns_raw_sf001.parquet", raw), "pseudo_sf001.parquet", pseudo)
    val sqlFile = new File(dir, "q96.sql")
    Files.write(sqlFile.toPath, sql.getBytes(StandardCharsets.UTF_8))
    val cmd = Seq(ctx.args.python, s"${ctx.args.repo}/corpusbench/sft_oracle.py",
      ctx.args.repo, raw, pseudo, sqlFile.getAbsolutePath, out)
    val p = new ProcessBuilder(cmd: _*).redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    if (p.waitFor() != 0) throw new IllegalStateException(s"sft oracle failed: ${cmd.mkString(" ")}")
    digestMap("sft", Digest.of(ctx.spark.read.parquet(out), Digest.packCols))
  }
}
