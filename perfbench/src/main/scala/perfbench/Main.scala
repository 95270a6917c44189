package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run shares with its workload: the session, the recorder, the
  * seed and scale, a scratch directory, and the tallies of requests and
  * correctness checks. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
    val tiny: Boolean, val work: Path, val cores: Int) {
  val requestMs = ArrayBuffer.empty[Double]
  val samples = scala.collection.mutable.LinkedHashMap
    .empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L

  /** One request of the closed loop; its latency is a sample of
    * request_p50_ms. */
  def request[T](body: => T): T = {
    val t = System.nanoTime()
    val v = body
    requestMs += (System.nanoTime() - t) / 1e6
    attempted += 1
    v
  }

  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"CHECK FAILED: $what $detail")
    }
  }

  /** A named measurement reported by its median (workload-specific
    * figures such as ingest throughput). */
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  def dir(name: String): String = work.resolve(name).toString
}

object Ctx {
  def seconds[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t) / 1e9)
  }

  /** Materialize every column of `df` without keeping it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** One workload of the benchmark. `generate` must not need Spark: it writes
  * every input file and keeps the generator's ground truth in fields. */
abstract class Workload(val ctx: Ctx) {
  /** Write the inputs for `ctx.seed` under `dir`. */
  def generate(dir: Path): Unit
  /** Untimed set-up that needs the session. */
  def prepare(): Unit
  /** One iteration of the timed closed loop. */
  def cycle(): Unit
  /** Check the outputs of the iteration that just ran (untimed). */
  def verify(): Unit
  /** Trace-only materializations of steps that otherwise run fused with
    * their upstream. */
  def staged(): Unit = ()
  /** Units of the workload-specific figures passed to [[Ctx.sample]]. */
  def sampleUnits: Map[String, String]
}

/** Two workloads run as one: each step of `b` follows the same step of
  * `a`, and `b`'s inputs live next to `a`'s. */
final class Both(ctx: Ctx, a: Workload, b: Workload) extends Workload(ctx) {
  def generate(dir: Path): Unit = {
    a.generate(dir.resolve("a"))
    b.generate(dir.resolve("b"))
  }
  def prepare(): Unit = { a.prepare(); b.prepare() }
  def cycle(): Unit = { a.cycle(); b.cycle() }
  def verify(): Unit = { a.verify(); b.verify() }
  override def staged(): Unit = { a.staged(); b.staged() }
  def sampleUnits: Map[String, String] = a.sampleUnits ++ b.sampleUnits
}

object Main {
  val Workloads: Seq[(String, Ctx => Workload)] = Seq(
    "fhir_terminology" -> (ctx => new Both(ctx, new FhirIngest(ctx),
      new Terminology(ctx))),
    "ann_index" -> (new AnnIndex(_)))

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload " +
      s"{${Workloads.map(_._1).mkString("|")}} --seed N --seconds S " +
      "--trace 0|1 --work DIR [--tiny] [--generate-only DIR]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).toSet
    val workload = opts.getOrElse("--workload", usage("missing --workload"))
    val make = Workloads.toMap.getOrElse(workload,
      usage(s"unknown workload $workload"))
    val seed = opts.get("--seed").flatMap(_.toLongOption)
      .getOrElse(usage("--seed needs an integer"))
    val tiny = flags("--tiny")
    opts.get("--generate-only") match {
      case Some(out) =>
        make(new Ctx(null, null, seed, tiny, Paths.get(out), 1))
          .generate(Paths.get(out))
        return
      case None =>
    }
    val secs = opts.get("--seconds").flatMap(_.toDoubleOption)
      .getOrElse(usage("--seconds needs a number"))
    val trace = opts.get("--trace") match {
      case Some("0") => false
      case Some("1") => true
      case _ => usage("--trace must be 0 or 1")
    }
    val work = Paths.get(opts.getOrElse("--work", usage("missing --work")))
      .toAbsolutePath
    val ok = Runner(workload, make, seed, tiny, secs, trace, work).run()
    sys.exit(if (ok) 0 else 1)
  }
}

final case class Phase(cycleS: Seq[Double], requestMs: Seq[Double])

final case class Runner(workload: String, make: Ctx => Workload, seed: Long,
    tiny: Boolean, secs: Double, trace: Boolean, work: Path) {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      // the same session settings as the library's own test and bench mains
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after full collections. The engine releases blocks and
    * broadcasts from a cleaner thread once their owners are collected, so
    * the least of a few collections apart is the live set. */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def timedPhase(ctx: Ctx, w: Workload): Phase = {
    val from = ctx.requestMs.size
    val cycles = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    // whole cycles, at least one, until the deadline has passed
    while (cycles.isEmpty || System.nanoTime() < deadline) {
      val (_, s) = Ctx.seconds(ctx.rec.span("cycle")(w.cycle()))
      cycles += s
      w.verify()
    }
    Phase(cycles.toSeq, ctx.requestMs.drop(from).toSeq)
  }

  def run(): Boolean = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = session(cores)
    val rec = new Recorder(spark, s"$workload-$seed-${ProcessHandle.current.pid}")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ctx = new Ctx(spark, rec, seed, tiny, work, cores)
    val w = make(ctx)
    rec.tracing = trace
    val ok = try {
      val setupS = rec.span("setup") {
        // generation is cheap and repeats; its median enters setup_s
        val genS = (1 to 3).map { k =>
          val dir = work.resolve(s"input$k")
          val (_, s) = Ctx.seconds(w.generate(dir))
          if (k < 3) Util.delete(dir)
          s
        }
        val (_, prepS) = Ctx.seconds(w.prepare())
        rec.tracing = false
        val (_, warmS) = Ctx.seconds { w.cycle(); w.verify() }
        Report.table("setup", Seq(("session_s", sessionS, "s"),
          ("generate_s", Stats.median(genS), "s (median of 3)"),
          ("prepare_s", prepS, "s"), ("warmup_s", warmS, "s")))
        sessionS + Stats.median(genS) + prepS + warmS
      }
      ctx.requestMs.clear()
      ctx.samples.clear()
      val plain = timedPhase(ctx, w)
      val endToEnd = Report.endToEnd(plain.cycleS, plain.requestMs) ++ Map(
        "setup_s" -> setupS, "live_heap_mb" -> liveHeapMb())
      Report.table(s"end-to-end ($workload, seed $seed, local[$cores], " +
        s"${plain.cycleS.size} cycles, ${plain.requestMs.size} requests)",
        Report.endToEnd(endToEnd) :+ ("failed_ops_share",
          ctx.failed.toDouble / math.max(1, ctx.attempted), "failed/attempted"))
      Report.table("workload figures (medians over the timed phase)",
        ctx.samples.toSeq.map { case (k, v) =>
          (k, Stats.median(v.toSeq), w.sampleUnits.getOrElse(k, "")) })
      val metrics =
        if (!trace) Report.endToEnd(endToEnd)
        else {
          ctx.samples.clear()
          rec.tracing = true
          val traced = timedPhase(ctx, w)
          w.staged()
          rec.tracing = false
          val tracedE2e = Report.endToEnd(traced.cycleS, traced.requestMs)
          Report.table("tracing overhead (traced vs untraced timed phase)",
            tracedE2e.toSeq.sorted.map { case (k, v) =>
              val base = endToEnd(k)
              (k, v, s"${Report.unit(k)}  untraced ${Report.fmt(base)}  " +
                f"overhead ${100 * (v / base - 1)}%+.1f%%")
            })
          val layers = Report.perLayer(LayerMetrics.compute(rec.spans, cores))
          Report.table("per-layer metrics (traced phase, staged " +
            "materializations and setup)", layers)
          Report.writeSpans(work.getParent.resolveSibling("traces")
            .resolve(s"$workload-seed$seed.json"), rec, rec.spans)
          layers
        }
      Report.result(ctx.failed == 0, ctx.attempted, ctx.failed, metrics)
      ctx.failed == 0
    } catch {
      case t: Throwable =>
        System.err.println(s"perfbench: $workload failed")
        t.printStackTrace()
        false
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
      Util.delete(work)
    }
    ok
  }
}
