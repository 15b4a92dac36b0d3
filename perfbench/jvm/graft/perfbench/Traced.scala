package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.ChiSquarePipeline
import graft.sources.ReviewSource
import graft.stats.Contingency
import graft.streaming.StreamingChiSquare

/** The traced run. After one settle job, each round runs
  *
  *  1. the timed job, untouched, and the same job between counter
  *     snapshots (a "traced job"), each going first in every other round;
  *  2. the batch path's prefixes, each materialized to a noop sink in
  *     order: readReviews, tokens, Contingency.table, chi2Table, topTerms,
  *     formattedLines;
  *  3. the incremental path: each day's mergeBatch into a fresh store,
  *     then topTermsFromStore to a noop sink;
  *  4. the host control.
  *
  * After the rounds the incremental result is written once, and must equal
  * the batch path's output.
  *
  * A layer's self time is the median time of its prefix minus that of the
  * prefix before it. Spans are kept in memory and written to
  * `<work_dir>/spans.json` when the run ends.
  */
object Traced {
  import BenchMain._

  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long, ok: Boolean, counts: Option[Snapshot]) {
    /** Wall seconds, or NaN when the operation failed. */
    def seconds: Double = if (ok) (endNs - startNs) / 1e9 else Double.NaN
  }

  /** Medians need at least `MinRounds` rounds; a round beyond those starts
    * only while the run is younger than both `seconds` and `LastRoundStart`.
    */
  val MinRounds = 3
  val LastRoundStart = 90.0

  val BatchSteps: Seq[String] = Seq("sources.scan", "text.tokenize",
    "stats.contingency", "stats.chi2", "stats.topk", "pipeline.format")

  /** The frame each batch-path layer's public function returns. */
  def prefixes(spark: SparkSession, input: String): Seq[DataFrame] = {
    val reviews = ReviewSource.readReviews(spark, input)
    val (docs, toks) = ChiSquarePipeline.tokens(reviews, "reviewText", "category")
    val top = ChiSquarePipeline.topTerms(reviews, "reviewText", "category")
    Seq(reviews, toks, Contingency.table(toks, docs),
      ChiSquarePipeline.chi2Table(reviews, "reviewText", "category"),
      top, ChiSquarePipeline.formattedLines(top)(spark))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, run: BenchMain.Run, counters: Counters,
      cores: Int, seconds: Double, result: ResultJson): Unit = {
    val spans = ArrayBuffer.empty[Span]
    val t0 = System.nanoTime()
    val stealAtStart = counters.snapshot().stealTicks

    /** Runs `body` as one traced operation under `parent`. */
    def span(name: String, parent: Int)(body: => Boolean): Span = {
      val before = counters.snapshot()
      counters.resetPeak()
      val start = System.nanoTime()
      val ok = run.op(name)(body)
      val end = System.nanoTime()
      val s = Span(spans.size, parent, name, start, end, ok,
        Some(counters.snapshot() - before))
      spans += s
      s
    }

    val root = Span(0, -1, "trace", t0, t0, ok = true, None)
    spans += root
    val untraced, traced = ArrayBuffer.empty[Double]
    val tracedCounts = ArrayBuffer.empty[(Snapshot, Double)]
    val steps = ArrayBuffer.empty[Seq[Span]]
    val merges = ArrayBuffer.empty[Seq[Double]]
    val refresh, calib = ArrayBuffer.empty[Double]
    var storeBytes = 0L
    val out = run.work.resolve("out-trace")
    val store = run.work.resolve("store-trace")

    // As in the timed run, the job after the cold one is checked, not timed.
    job(spark, run, out)
    def elapsed = (System.nanoTime() - t0) / 1e9
    var round = 0
    while (round < MinRounds || (elapsed < seconds && elapsed < LastRoundStart)) {
      val r = Span(spans.size, root.id, s"round $round", System.nanoTime(), 0L,
        ok = true, None)
      spans += r
      def tracedJob(): Unit = {
        val before = counters.snapshot()
        counters.resetPeak()
        job(spark, run, out).foreach { t =>
          traced += t
          tracedCounts += ((counters.snapshot() - before) -> t)
        }
      }
      // The first job of a round runs slower than the second, so the two
      // kinds take turns going first.
      if (round % 2 == 0) { job(spark, run, out).foreach(untraced += _); tracedJob() }
      else { tracedJob(); job(spark, run, out).foreach(untraced += _) }

      val frames = prefixes(spark, run.input)
      steps += BatchSteps.zip(frames).map { case (name, df) =>
        span(name, r.id) { noop(df); true }
      }

      deleteTree(store)
      val m = run.days.zipWithIndex.map { case (day, i) =>
        span(s"streaming.merge $i", r.id) {
          StreamingChiSquare.mergeBatch(ReviewSource.readReviews(spark, day),
            i.toLong, store.toString, "reviewText", "category")
          true
        }.seconds
      }
      merges += m
      storeBytes = dirBytes(store)
      refresh += span("streaming.refresh", r.id) {
        !m.exists(_.isNaN) && {
          noop(StreamingChiSquare.topTermsFromStore(spark, store.toString)); true
        }
      }.seconds
      calib += calibration(spark)
      spans(r.id) = r.copy(endNs = System.nanoTime())
      round += 1
    }
    spans(0) = root.copy(endNs = System.nanoTime())

    // Prefix medians and self times.
    val prefix = BatchSteps.indices.map(i => median(steps.map(_(i).seconds).toSeq))
    BatchSteps.indices.foreach { i =>
      result.num(BatchSteps(i) + "_self_s", prefix(i) - (if (i == 0) 0.0 else prefix(i - 1)))
    }
    val last = steps.last.map(_.counts.get)
    result.num("contingency_shuffle_bytes",
      (last(2).shuffleBytes - last(1).shuffleBytes).toDouble)
    result.num("topk_shuffle_rows",
      (last(4).shuffleRecords - last(3).shuffleRecords).toDouble)
    result.num("batch_path_s", prefix.last)
    // Records the whole batch path reads, for scan passes per input line.
    result.num("batch_input_records", last.last.inputRecords.toDouble)

    result.num("merge_s", median(merges.map(_.sum).toSeq))
    result.num("merge_last_s", median(merges.map(_.last).toSeq))
    result.num("refresh_s", median(refresh.toSeq))
    result.num("store_bytes", storeBytes.toDouble)

    val untracedMed = median(untraced.toSeq)
    result.num("untraced_job_s", untracedMed)
    result.num("traced_job_s", median(traced.toSeq))
    def perJob(f: (Snapshot, Double) => Double): Double =
      median(tracedCounts.map { case (c, t) => f(c, t) }.toSeq)
    result.num("job_jobs", perJob((c, _) => c.jobs.toDouble))
    result.num("job_tasks", perJob((c, _) => c.tasks.toDouble))
    result.num("job_tasks_failed", tracedCounts.map(_._1.tasksFailed).sum.toDouble)
    result.num("job_gc_s", perJob((c, _) => c.gcMs / 1e3))
    result.num("job_task_busy_s", perJob((c, _) => c.runMs / 1e3))
    result.num("job_core_busy_ratio", perJob((c, t) => c.runMs / 1e3 / (t * cores)))
    result.num("job_fetch_wait_s", perJob((c, _) => c.fetchWaitMs / 1e3))
    result.num("job_spill_bytes", perJob((c, _) => c.spillBytes.toDouble))
    result.num("job_peak_task_mem_bytes", perJob((c, _) => c.peakTaskMem.toDouble))
    result.num("calibration_s", median(calib.toSeq))
    val all = spans(0).endNs - spans(0).startNs
    result.num("steal_ratio", (counters.snapshot().stealTicks - stealAtStart) /
      Counters.TicksPerSecond / (all / 1e9 * cores))
    result.num("rounds", round.toDouble)

    // The incremental result must equal the one-shot batch result.
    val incrementalOut = run.work.resolve("out-incremental")
    run.op("incremental equals batch") {
      writeText(ChiSquarePipeline.formattedLines(
        StreamingChiSquare.topTermsFromStore(spark, store.toString))(spark), incrementalOut)
      java.util.Arrays.equals(outputBytes(incrementalOut), outputBytes(out))
    }

    // Rows the tokenizer emits, for the check against the oracle's count.
    val (_, toks) = ChiSquarePipeline.tokens(
      ReviewSource.readReviews(spark, run.input), "reviewText", "category")
    result.num("tokens_out", toks.count().toDouble)

    writeSpans(run.work.resolve("spans.json"), spans.toSeq)
  }

  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val t0 = spans.head.startNs
    val body = spans.map { s =>
      val j = new ResultJson
      j.num("id", s.id); j.num("parent", s.parent)
      j.str("name", s.name)
      j.num("start_s", (s.startNs - t0) / 1e9); j.num("end_s", (s.endNs - t0) / 1e9)
      j.num("ok", if (s.ok) 1 else 0)
      s.counts.foreach { c =>
        j.num("shuffle_bytes", c.shuffleBytes.toDouble)
        j.num("shuffle_records", c.shuffleRecords.toDouble)
        j.num("input_records", c.inputRecords.toDouble)
        j.num("tasks", c.tasks.toDouble)
      }
      j.render
    }
    Files.write(path, body.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
