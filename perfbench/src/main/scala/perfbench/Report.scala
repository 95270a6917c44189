package perfbench

import java.nio.file.{Files, Path}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Util {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  private def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try {
        val it = s.iterator()
        val b = Seq.newBuilder[Path]
        while (it.hasNext) {
          val p = it.next()
          if (Files.isRegularFile(p)) b += p
        }
        b.result()
      } finally s.close()
    }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** Data files (not checksums, markers or hidden files) under `root`. */
  def dataFiles(root: String): Int =
    files(java.nio.file.Paths.get(root)).count(isData)

  /** Bytes of the data files under `root`. */
  def dataBytes(root: String): Long =
    files(java.nio.file.Paths.get(root)).filter(isData).map(Files.size).sum
}

object Report {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "cycle_s" -> "s",
    "request_p50_ms" -> "ms",
    "live_heap_mb" -> "MB")

  def unit(k: String): String = EndToEnd.toMap.getOrElse(k, "")

  def endToEnd(cycleS: Seq[Double], requestMs: Seq[Double]): Map[String, Double] =
    Map("cycle_s" -> Stats.median(cycleS),
      "request_p50_ms" -> Stats.median(requestMs))

  def endToEnd(all: Map[String, Double]): Seq[(String, Double, String)] =
    EndToEnd.map { case (k, u) => (k, all(k), u) }

  def perLayer(values: Map[String, Double]): Seq[(String, Double, String)] =
    LayerMetrics.All.map(m => (m.name, values(m.name), m.unit))

  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.0f" else f"$v%.4f"

  def table(title: String, rows: Seq[(String, Double, String)]): Unit = {
    println(s"== $title")
    val w = (rows.map(_._1.length) :+ 10).max
    rows.foreach { case (k, v, u) =>
      println(s"  ${k.padTo(w, ' ')}  ${fmt(v).reverse.padTo(14, ' ').reverse}  $u")
    }
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v")
    v.toString
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The last line of standard output: the machine-readable result. */
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): Unit = {
    val ms = metrics.map { case (k, v, u) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$ms}}""")
  }

  /** The span file of a traced run: every span with its parent, times
    * relative to the recorder's start, engine counts and attributes. */
  def writeSpans(path: Path, rec: Recorder, spans: Seq[Span]): Unit = {
    val body = spans.map { s =>
      val counts = (s.counts.toMap.map { case (k, v) => k -> v.toDouble } ++
        s.attrs).toSeq.sortBy(_._1)
        .map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${str(s.name)}, """ +
        s""""start_ms": ${num(s.startNs / 1e6)}, "end_ms": ${num(s.endNs / 1e6)}, """ +
        s""""counts": {$counts}}"""
    }.mkString("[\n", ",\n", "\n]")
    Files.createDirectories(path.getParent)
    Files.writeString(path,
      s"""{"run_id": ${str(rec.runId)}, "spans": $body}""" + "\n")
    println(s"== span file: $path (${spans.size} spans)")
  }
}
