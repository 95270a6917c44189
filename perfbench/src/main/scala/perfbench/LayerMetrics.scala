package perfbench

/** A per-layer metric, computed from the spans of a traced run. */
final case class LayerMetric(name: String, unit: String, better: String,
    of: LayerMetrics.Index => Option[Double])

/** The per-layer metrics of the traced run. Names have the form
  * `<layer>.<call>.<measure>`, where the layers are modules of the library
  * (fhir, terminology, closure, ops, streaming) plus `spark` for counts the
  * engine reports.
  *
  * Unless noted, a metric is the median over root spans (the setup, each
  * cycle of the timed loop, each staged materialization) of its value
  * within that root, where a root that never makes the call is skipped. A
  * call a workload never makes reads 0, so that every traced result carries
  * every per-layer metric; `perfbench/metrics.json` says which workload
  * makes each call. */
object LayerMetrics {
  final class Index(spans: Seq[Span], val cores: Int) {
    private val byId = spans.map(s => s.id -> s).toMap
    private def root(s: Span): Span =
      if (s.parent < 0) s else root(byId(s.parent))
    private val groups: Seq[(Span, Seq[Span])] =
      spans.groupBy(root).toSeq.sortBy(_._1.id)

    /** Median over roots of `f(spans of the root)`, where defined. */
    def perRoot(f: Seq[Span] => Option[Double]): Option[Double] = {
      val xs = groups.flatMap { case (_, ss) => f(ss) }
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }

    /** Median over the cycles of the traced timed phase. */
    def perCycle(f: Span => Double): Option[Double] = {
      val xs = groups.collect { case (r, _) if r.name == "cycle" => f(r) }
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }

    /** Median over every call of span `name`. */
    def perCall(name: String)(f: Span => Double): Option[Double] = {
      val xs = spans.filter(_.name == name).map(f)
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
  }

  private def sum(ss: Seq[Span], name: String)(f: Span => Double): Option[Double] = {
    val xs = ss.filter(_.name == name)
    if (xs.isEmpty) None else Some(xs.map(f).sum)
  }
  private val ms: Span => Double = _.ms
  private val cpuMs: Span => Double = _.counts.cpuNs / 1e6
  private def attr(k: String): Span => Double = _.attrs.getOrElse(k, 0.0)

  /** Sum of `f` over the spans named `name` in each root. */
  private def total(name: String)(f: Span => Double): Index => Option[Double] =
    _.perRoot(sum(_, name)(f))

  /** `a − k·b` per root, where `k` is the attribute `times` of span `a`
    * (1 when absent): the self time of a staged step whose materialization
    * repeats its upstream `k` times. */
  private def self(a: String, b: String)(f: Span => Double): Index => Option[Double] =
    _.perRoot { ss =>
      for {
        x <- sum(ss, a)(f)
        k = ss.find(_.name == a).flatMap(_.attrs.get("times")).getOrElse(1.0)
        y <- sum(ss, b)(f)
      } yield x - k * y
    }

  /** `f / g` per root, both summed over spans named `name`. */
  private def ratio(name: String)(f: Span => Double, g: Span => Double): Index => Option[Double] =
    _.perRoot { ss =>
      for (x <- sum(ss, name)(f); y <- sum(ss, name)(g) if y > 0) yield x / y
    }

  private def m(name: String, unit: String, better: String)(
      of: Index => Option[Double]) = LayerMetric(name, unit, better, of)

  private val probes = Seq("ops.ivf_probe.execute", "ops.ivfpq_probe.execute",
    "ops.bm25_probe.execute")
  private val queries = Seq("udf_probe", "column_probe", "descendants_probe",
    "translate").map(q => s"terminology.$q.execute")

  val All: Seq[LayerMetric] = Seq(
    // fhir_terminology: bundle ingest and export (cycle), profile compile (set-up)
    m("fhir.compile.construct_ms", "ms", "lower")(total("fhir.compile.construct")(ms)),
    m("fhir.load.execute_ms", "ms", "lower")(total("fhir.stage.load")(ms)),
    m("fhir.load.input_bytes", "B", "lower")(total("fhir.stage.load")(_.counts.inputBytes.toDouble)),
    m("fhir.xml.self_ms", "ms", "lower")(self("fhir.stage.xml", "fhir.stage.load")(ms)),
    m("fhir.parse.self_ms", "ms", "lower")(self("fhir.stage.parse", "fhir.stage.xml")(ms)),
    m("fhir.parse.task_cpu_ms", "ms", "lower")(self("fhir.stage.parse", "fhir.stage.xml")(cpuMs)),
    m("fhir.extract.self_ms", "ms", "lower")(self("fhir.stage.extract", "fhir.stage.parse")(ms)),
    m("fhir.extract.task_cpu_ms", "ms", "lower")(self("fhir.stage.extract", "fhir.stage.parse")(cpuMs)),
    m("fhir.extract.rows_out", "count", "higher")(total("fhir.save.execute")(_.counts.outputRecords.toDouble)),
    m("fhir.save.execute_ms", "ms", "lower")(total("fhir.save.execute")(ms)),
    m("fhir.save.jobs", "count", "lower")(total("fhir.save.execute")(_.counts.jobs.toDouble)),
    m("fhir.save.input_read_ratio", "ratio", "lower")(ratio("fhir.save.execute")(_.counts.inputBytes.toDouble, attr("disk_bytes"))),
    m("fhir.save.bytes_written_per_input_byte", "ratio", "lower")(ratio("fhir.save.execute")(_.counts.outputBytes.toDouble, attr("disk_bytes"))),
    m("fhir.save.files_written", "count", "lower")(total("fhir.save.execute")(attr("files"))),
    m("fhir.decode.execute_ms", "ms", "lower")(total("fhir.decode.execute")(ms)),
    m("fhir.decode.task_cpu_ms", "ms", "lower")(total("fhir.decode.execute")(cpuMs)),
    // fhir_terminology: the terminology release load (set-up)
    m("fhir.vs_import.construct_ms", "ms", "lower")(total("fhir.vs_import.construct")(ms)),
    m("fhir.vs_import.construct_jobs", "count", "lower")(total("fhir.vs_import.construct")(_.counts.jobs.toDouble)),
    m("fhir.vs_import.execute_ms", "ms", "lower")(total("fhir.stage.vs_import")(ms)),
    m("terminology.hier_read.execute_ms", "ms", "lower")(total("terminology.stage.hier_read")(ms)),
    m("closure.construct_ms", "ms", "lower")(total("closure.construct")(ms)),
    m("closure.construct_jobs", "count", "lower")(total("closure.construct")(_.counts.jobs.toDouble)),
    m("closure.shuffle_write_bytes", "B", "lower")(total("closure.construct")(_.counts.shuffleWriteBytes.toDouble)),
    m("closure.spill_bytes", "B", "lower")(total("closure.construct")(_.counts.spillBytes.toDouble)),
    m("closure.pairs_out", "count", "higher")(total("terminology.write.ancestors")(_.counts.outputRecords.toDouble)),
    m("terminology.write.execute_ms", "ms", "lower")(total("terminology.write.execute")(ms)),
    m("terminology.write.bytes_written", "B", "lower")(total("terminology.write.execute")(_.counts.outputBytes.toDouble)),
    m("terminology.write.files_written", "count", "lower")(total("terminology.write.execute")(attr("files"))),
    m("terminology.reload.construct_ms", "ms", "lower")(total("terminology.reload.construct")(ms)),
    m("terminology.reload.construct_jobs", "count", "lower")(total("terminology.reload.construct")(_.counts.jobs.toDouble)),
    m("terminology.broadcast_build.construct_ms", "ms", "lower")(total("terminology.broadcast_build.construct")(ms)),
    m("terminology.broadcast_build.construct_jobs", "count", "lower")(total("terminology.broadcast_build.construct")(_.counts.jobs.toDouble)),
    m("terminology.broadcast_build.result_bytes", "B", "lower")(total("terminology.broadcast_build.construct")(_.counts.resultBytes.toDouble)),
    m("terminology.broadcast_build.broadcast_bytes", "B", "lower")(total("terminology.broadcast_build.construct")(attr("broadcast_bytes"))),
    // fhir_terminology: the analyst queries (cycle)
    m("terminology.udf_probe.execute_ms", "ms", "lower")(total("terminology.udf_probe.execute")(ms)),
    m("terminology.udf_probe.task_cpu_ms", "ms", "lower")(total("terminology.udf_probe.execute")(cpuMs)),
    m("terminology.column_probe.construct_ms", "ms", "lower")(total("terminology.column_probe.construct")(ms)),
    m("terminology.column_probe.execute_ms", "ms", "lower")(total("terminology.column_probe.execute")(ms)),
    m("terminology.column_probe.task_cpu_ms", "ms", "lower")(total("terminology.column_probe.execute")(cpuMs)),
    m("terminology.descendants_probe.execute_ms", "ms", "lower")(total("terminology.descendants_probe.execute")(ms)),
    m("terminology.translate.execute_ms", "ms", "lower")(total("terminology.translate.execute")(ms)),
    m("terminology.query.rows_scanned_per_row_out", "ratio", "lower")(_.perRoot { ss =>
      val q = ss.filter(s => queries.contains(s.name))
      val out = q.map(attr("rows_out")).sum
      if (q.isEmpty || out == 0) None
      else Some(q.map(_.counts.inputRecords).sum / out)
    }),
    // ann_index: builds (set-up), maintenance, read-back and probes (cycle)
    m("ops.ivf_build.execute_ms", "ms", "lower")(total("ops.ivf_build.execute")(ms)),
    m("ops.ivf_build.construct_jobs", "count", "lower")(total("ops.ivf_build.construct")(_.counts.jobs.toDouble)),
    m("ops.ivfpq_build.execute_ms", "ms", "lower")(total("ops.ivfpq_build.execute")(ms)),
    m("ops.bm25_build.execute_ms", "ms", "lower")(total("ops.bm25_build.execute")(ms)),
    m("ops.build.bytes_written", "B", "lower")(_.perRoot { ss =>
      val b = ss.filter(s => s.name.startsWith("ops.") && s.name.endsWith("_build.execute"))
      if (b.isEmpty) None else Some(b.map(_.counts.outputBytes).sum.toDouble)
    }),
    m("streaming.ivf_maintain.batch_ms", "ms", "lower")(total("streaming.ivf_maintain")(attr("batch_ms"))),
    m("streaming.ivfpq_maintain.batch_ms", "ms", "lower")(total("streaming.ivfpq_maintain")(attr("batch_ms"))),
    m("streaming.maintain.jobs_per_batch", "count", "lower")(_.perRoot { ss =>
      val st = ss.filter(_.name.startsWith("streaming."))
      val n = st.map(attr("batches")).sum
      if (n == 0) None else Some(st.map(_.counts.jobs).sum / n)
    }),
    m("streaming.maintain.bytes_written_per_row", "B", "lower")(_.perRoot { ss =>
      val st = ss.filter(_.name.startsWith("streaming."))
      val n = st.map(attr("rows")).sum
      if (n == 0) None else Some(st.map(_.counts.outputBytes).sum / n)
    }),
    m("streaming.maintain.files_written", "count", "lower")(_.perRoot { ss =>
      val st = ss.filter(_.name.startsWith("streaming."))
      if (st.isEmpty) None else Some(st.map(attr("files")).sum)
    }),
    m("ops.index_read.construct_ms", "ms", "lower")(total("ops.index_read.construct")(ms)),
    m("ops.index_read.construct_jobs", "count", "lower")(total("ops.index_read.construct")(_.counts.jobs.toDouble)),
    m("ops.ivf_read.construct_jobs", "count", "lower")(total("ops.ivf_read.construct")(_.counts.jobs.toDouble)),
    m("ops.probe.construct_jobs", "count", "lower")(ix => median(probes.map(_.replace(".execute", ".construct")).flatMap(ix.perCall(_)(_.counts.jobs.toDouble)))),
    m("ops.ivf_probe.execute_ms", "ms", "lower")(_.perCall("ops.ivf_probe.execute")(ms)),
    m("ops.ivfpq_probe.execute_ms", "ms", "lower")(_.perCall("ops.ivfpq_probe.execute")(ms)),
    m("ops.bm25_probe.execute_ms", "ms", "lower")(_.perCall("ops.bm25_probe.execute")(ms)),
    m("ops.probe.input_bytes", "B", "lower")(ix => median(probes.flatMap(ix.perCall(_)(_.counts.inputBytes.toDouble)))),
    // every workload: engine counts per cycle of the traced timed phase
    m("spark.jobs", "count", "lower")(_.perCycle(_.counts.jobs.toDouble)),
    m("spark.tasks", "count", "lower")(_.perCycle(_.counts.tasks.toDouble)),
    m("spark.task_cpu_ms", "ms", "lower")(_.perCycle(cpuMs)),
    m("spark.gc_ms", "ms", "lower")(_.perCycle(_.counts.gcMs.toDouble)),
    m("spark.shuffle_write_bytes", "B", "lower")(_.perCycle(_.counts.shuffleWriteBytes.toDouble)),
    m("spark.spill_bytes", "B", "lower")(_.perCycle(_.counts.spillBytes.toDouble)),
    m("spark.driver_result_bytes", "B", "lower")(_.perCycle(_.counts.resultBytes.toDouble)),
    m("spark.core_busy_share", "share", "higher")(ix => ix.perCycle(s =>
      s.counts.runMs / (ix.cores * math.max(s.ms, 1e-9)))),
  )

  private def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(Stats.median(xs))

  def compute(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val ix = new Index(spans, cores)
    All.map(m => m.name -> m.of(ix).getOrElse(0.0)).toMap
  }
}
