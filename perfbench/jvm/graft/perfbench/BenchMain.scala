package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.ChiSquarePipeline
import graft.sources.ReviewSource
import graft.text.Tokenize

/** The JVM side of the benchmark. perfbench/run.py starts it as
  *
  *   BenchMain <timed|trace> <corpus_dir> <work_dir> <cores> <seconds>
  *
  * Both modes set up a session, print `READY` and run the cold job. `timed`
  * then runs warm jobs for `seconds`; `trace` runs the rounds of
  * [[Traced]]. The JVM writes `<work_dir>/result.json` and exits.
  *
  * A job is what `ChiSquareCli.main` does after its session exists, in a
  * session configured as it configures one, over the corpus directory
  * `<corpus_dir>/days`.
  *
  * Every job's output is compared byte for byte with the independently
  * computed `<corpus_dir>/expected.txt`. A job that throws or writes other
  * bytes is a failed operation and contributes no time.
  */
object BenchMain {

  final class Run(val corpus: Path, val work: Path) {
    val expected: Array[Byte] = Files.readAllBytes(corpus.resolve("expected.txt"))
    val input: String = corpus.resolve("days").toString
    val days: Seq[String] =
      listDir(corpus.resolve("days")).map(_.toString).filter(_.endsWith(".jsonl")).sorted
    var attempted = 0L
    var failed = 0L
    val errors = ArrayBuffer.empty[String]

    /** One operation: true when it ran and `ok` held. */
    def op(name: String)(body: => Boolean): Boolean = {
      attempted += 1
      val ok = try body catch {
        case e: Throwable =>
          errors += s"$name: $e"; System.err.println(s"[perfbench] $name failed: $e")
          false
      }
      if (!ok) failed += 1
      ok
    }
  }

  def session(cores: Int, work: Path): SparkSession = {
    // The same builder as ChiSquareCli; only the scratch directory is
    // moved inside the benchmark's work area.
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .appName("graft-chi-square")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) listDir(p).foreach(deleteTree)
      Files.delete(p)
    }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def lines(spark: SparkSession, input: String): DataFrame = {
    val reviews = ReviewSource.readReviews(spark, input)
    val top = ChiSquarePipeline.topTerms(
      reviews, "reviewText", "category", ChiSquarePipeline.DefaultK,
      Tokenize.DefaultStopwords)
    ChiSquarePipeline.formattedLines(top)(spark)
  }

  def writeText(df: DataFrame, out: Path): Unit =
    df.coalesce(1).write.mode("overwrite").text(out.toString)

  def outputBytes(out: Path): Array[Byte] =
    listDir(out).filter(_.getFileName.toString.startsWith("part-")).sorted
      .map(Files.readAllBytes).foldLeft(Array.emptyByteArray)(_ ++ _)

  /** One timed job plus the check of its output. Returns the job's seconds,
    * or None when any of its operations failed.
    */
  def job(spark: SparkSession, run: Run, out: Path): Option[Double] = {
    val t0 = System.nanoTime()
    val ok = run.op("job") { writeText(lines(spark, run.input), out); true }
    val secs = (System.nanoTime() - t0) / 1e9
    val correct = run.op("check output")(ok && java.util.Arrays.equals(outputBytes(out), run.expected))
    if (ok && correct) Some(secs) else None
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The host control: a fixed shuffle, aggregate and sort over
    * `spark.range` that runs no graft code.
    */
  def calibration(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 400000L, 1L, 8)
      .select((col("id") * 7919L % 200003L).as("k"), col("id"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .orderBy(col("s").desc)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 5,
      "usage: BenchMain <timed|trace> <corpus_dir> <work_dir> <cores> <seconds>")
    val Array(mode, corpusDir, workDir, coresArg, secondsArg) = args
    val run = new Run(Paths.get(corpusDir), Paths.get(workDir))
    val cores = coresArg.toInt
    val seconds = secondsArg.toDouble
    Files.createDirectories(run.work)

    val spark = session(cores, run.work)
    val counters = new Counters(spark.sparkContext)
    println("READY")

    val result = new ResultJson
    val before = counters.snapshot()
    val coldOut = run.work.resolve("out-cold")
    val cold = job(spark, run, coldOut)
    val coldCounts = counters.snapshot() - before
    result.num("cold_job_s", cold.getOrElse(Double.NaN))
    result.num("cold_codegen_s", coldCounts.codegenMs / 1e3)
    result.num("cold_jit_s", coldCounts.jitMs / 1e3)

    mode match {
      case "timed" => Timed.run(spark, run, counters, cores, seconds, result)
      case "trace" => Traced.run(spark, run, counters, cores, seconds, result)
      case other => sys.error(s"unknown mode $other")
    }
    result.num("attempted", run.attempted.toDouble)
    result.num("failed", run.failed.toDouble)
    result.strs("errors", run.errors.toSeq)
    Files.write(run.work.resolve("result.json"), result.render.getBytes("UTF-8"))
    spark.stop()
  }
}

/** Warm jobs for the run length. */
object Timed {
  import BenchMain._

  /** A median needs a few samples however slow the host: the loop times
    * at least this many warm jobs, and starts none after `MaxSeconds`.
    */
  val MinWarm = 3
  val MaxSeconds = 90.0
  /** The share of the run length spent settling: jobs there are checked
    * but not timed, because the JIT is still compiling the driver's code
    * (job times fall for the first 20-30 s after the cold job).
    */
  val SettleShare = 0.4

  def run(spark: SparkSession, run: BenchMain.Run, counters: Counters,
      cores: Int, seconds: Double, result: ResultJson): Unit = {
    val times, shuffle, steal = ArrayBuffer.empty[Double]
    val out = run.work.resolve("out-warm")
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var settle = 0
    while (settle == 0 || elapsed < SettleShare * seconds) {
      job(spark, run, out)
      settle += 1
    }
    result.num("settle_jobs", settle)
    var jobs = 0
    while ((jobs < MinWarm || elapsed < seconds) && elapsed < MaxSeconds) {
      jobs += 1
      val before = counters.snapshot()
      job(spark, run, out).foreach { t =>
        val c = counters.snapshot() - before
        times += t
        shuffle += c.shuffleBytes / 1e6
        steal += c.stealTicks / Counters.TicksPerSecond / (t * cores)
      }
    }
    result.nums("warm_job_s", times.toSeq)
    result.nums("warm_steal_ratio", steal.toSeq)
    result.num("shuffle_mb", median(shuffle.toSeq))
  }
}
