package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.Lineage
import graft.ops.{Retrieval, Similarity}
import graft.streaming.Streams

/** The index lifecycles. Set-up builds and writes an IVF, an IVF-PQ and a
  * BM25 index over clustered 64-dimension embeddings and short documents.
  * Each cycle one more delta file arrives; both maintenance streams append
  * it (AvailableNow, one file per trigger, compaction every second batch),
  * the indexes are read back, and six queries probe them one at a time,
  * round-robin over the three. Each probe is a request. */
final class AnnIndex(ctx: Ctx) extends Workload(ctx) {
  private val Dims = 64
  private val corpus = if (ctx.tiny) 300 else 8000
  private val deltas = 12
  private val perDelta = if (ctx.tiny) 10 else 100
  private val docs = if (ctx.tiny) 200 else 3000
  private val queries = 24
  private val probesPerCycle = 6
  private val cells = if (ctx.tiny) 4 else 16
  private val K = 10
  private val NProbe = 8
  /** Mean IVF recall@10 against the exact top-10 must stay at or above
    * this (also recorded in metrics.json). */
  private val RecallFloor = 0.8

  private var input: Path = _
  private var vectors = IndexedSeq.empty[(Long, Array[Float])]
  private var queryVecs = IndexedSeq.empty[Array[Float]]

  def sampleUnits: Map[String, String] = Map(
    "index_append_ms" -> "ms", "ivf_recall_at_10" -> "share")

  def generate(root: Path): Unit = {
    input = root
    val rng = new Rng(ctx.seed, "ann_index")
    val centers = IndexedSeq.fill(24)(Array.fill(Dims)(rng.gaussian().toFloat))
    def near(c: Array[Float]): Array[Float] =
      c.map(x => (x + 0.5 * rng.gaussian()).toFloat)
    def lines(vs: Seq[(Long, Array[Float])]): String = vs.map { case (id, v) =>
      s"""{"id":$id,"vec":[${v.mkString(",")}]}"""
    }.mkString("\n")
    vectors = (0 until corpus + deltas * perDelta).map { i =>
      i.toLong -> near(centers(rng.int(centers.size)))
    }
    Io.write(root.resolve("corpus.ndjson"), lines(vectors.take(corpus)))
    (0 until deltas).foreach { d =>
      Io.write(root.resolve(f"deltas/delta$d%02d.ndjson"), lines(
        vectors.slice(corpus + d * perDelta, corpus + (d + 1) * perDelta)))
    }
    queryVecs = IndexedSeq.fill(queries)(near(centers(rng.int(centers.size))))
    Io.write(root.resolve("queries.ndjson"),
      lines(queryVecs.zipWithIndex.map { case (v, i) => i.toLong -> v }))
    val vocab = new Zipf(1500, 1.0)
    def text(n: Int): String = Seq.fill(n)(s"w${vocab.sample(rng)}").mkString(" ")
    Io.write(root.resolve("docs.ndjson"), (0 until docs).map { i =>
      s"""{"id":$i,"text":"${text(rng.between(6, 16))}"}"""
    }.mkString("\n"))
    Io.write(root.resolve("query_text.ndjson"), (0 until queries).map { i =>
      s"""{"id":$i,"text":"${text(rng.between(2, 4))}"}"""
    }.mkString("\n"))
  }

  private val exactCache = mutable.Map.empty[(Int, Int), Set[Long]]

  /** Exact cosine top-k of query `q` over the corpus and the first `n`
    * delta files, computed here from the generated vectors. */
  private def exact(q: Int, n: Int): Set[Long] = exactCache.getOrElseUpdate((q, n), {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qv = queryVecs(q)
    val qn = norm(qv)
    vectors.take(corpus + n * perDelta).map { case (id, v) =>
      var d = 0.0
      var k = 0
      while (k < Dims) { d += qv(k).toDouble * v(k); k += 1 }
      (-d / (qn * norm(v)), id)
    }.sorted.take(K).map(_._2).toSet
  })

  private val vecSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(DoubleType))))
  private val textSchema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType)))
  private val deltaSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(FloatType))))

  private var vecQueries, textQueries = IndexedSeq.empty[DataFrame]
  private var bm25Expected = Map.empty[Long, Seq[Long]]

  private def readVectors(path: String): DataFrame = ctx.spark.read
    .schema(vecSchema).json(path)
    .select(col("id"), col("vec").cast("array<float>").as("vec"))
  private def root(name: String) = ctx.dir(s"index/$name")

  def prepare(): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    import spark.implicits._
    val corpusDf = readVectors(input.resolve("corpus.ndjson").toString)
    // each delta file becomes one parquet file, moved into the stream's
    // source directory when it "arrives"
    readVectors(input.resolve("deltas").toString)
      .withColumn("d", ((col("id") - corpus) / perDelta).cast("int"))
      .repartition(col("d")).write.partitionBy("d").parquet(ctx.dir("staged"))
    Files.createDirectories(Paths.get(ctx.dir("deltas")))
    val docsDf = spark.read.schema(textSchema)
      .json(input.resolve("docs.ndjson").toString)
    // one small local frame per query, as a serving client would send
    vecQueries = queryVecs.zipWithIndex.map { case (v, i) =>
      Seq((i.toLong, v.toSeq)).toDF("id", "vec") }
    val texts = spark.read.schema(textSchema)
      .json(input.resolve("query_text.ndjson").toString).collect()
    textQueries = texts.map(r => Seq((r.getLong(0), r.getString(1)))
      .toDF("id", "text")).toIndexedSeq
    bm25Expected = Retrieval.bm25Retrieve(docsDf, "id", "text",
        texts.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("qid", "text"),
        "qid", "text", K)
      .select("query_id", "doc_id", "rank").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }

    val seeds = Similarity.hashSeeds(corpusDf, "id", "vec", cells)
    rec.call("ops.ivf_build")(Similarity.buildIvfIndex(corpusDf, "id", "vec",
      seeds, "sid", "svec"))(Similarity.writeIvfIndex(_, root("ivf")))
    rec.call("ops.ivfpq_build")(Similarity.buildIvfPqIndex(corpusDf, "id",
      "vec", seeds, "sid", "svec", codebookIds = 0L until 16L,
      inDims = Dims, nSub = 8)) { idx =>
      Similarity.writeIvfPqIndex(idx, root("ivfpq"))
      Lineage.retireDependents(idx.codes)
    }
    rec.call("ops.bm25_build")(Retrieval.buildBm25Index(docsDf, "id", "text",
      numBuckets = 16))(Retrieval.writeBm25Index(_, root("bm25")))
  }

  private var arrived = 0
  private var nextQuery = 0
  private var probes = Seq.empty[(String, Int, Seq[Row])]

  /** Run a maintenance stream over the arrived delta files to completion;
    * its checkpoint persists, so it appends only the new file. */
  private def maintain(span: String, data: String,
      start: (DataFrame, String) => StreamingQuery): Unit = {
    val seen = ctx.rec.progress.batches.size
    val source = ctx.spark.readStream.schema(deltaSchema)
      .option("maxFilesPerTrigger", "1").parquet(ctx.dir("deltas"))
    val q = ctx.rec.span(span) {
      val q = start(source, ctx.dir(s"checkpoints/$span"))
      q.awaitTermination()
      q
    }
    ctx.rec.settled()
    val b = ctx.rec.progress.batches.drop(seen)
      .filter(_.queryId == q.id.toString)
    b.foreach(x => ctx.sample("index_append_ms", x.durationMs.toDouble))
    ctx.rec.annotate(span)(Map(
      "batch_ms" -> b.map(_.durationMs.toDouble).sum,
      "batches" -> b.size.toDouble, "rows" -> b.map(_.inputRows).sum.toDouble,
      "files" -> Util.dataFiles(root(span.stripPrefix("streaming.")
        .stripSuffix("_maintain")) + "/" + data).toDouble))
  }

  def cycle(): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    if (arrived < deltas) {
      val staged = Paths.get(ctx.dir(s"staged/d=$arrived"))
      val part = Files.list(staged).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, Paths.get(ctx.dir(f"deltas/delta$arrived%02d.parquet")))
      arrived += 1
    }
    maintain("streaming.ivf_maintain", "postings", (s, chk) =>
      Streams.indexMaintenanceStream(s, "id", "vec", root("ivf"), chk,
        compactEvery = 2))
    maintain("streaming.ivfpq_maintain", "codes", (s, chk) =>
      Streams.pqIndexMaintenanceStream(s, "id", "vec", root("ivfpq"), chk,
        compactEvery = 2))
    val (ivf, pq) = rec.span("ops.index_read.construct") {
      val ivf = rec.span("ops.ivf_read.construct")(
        Similarity.readIvfIndex(spark, root("ivf")))
      val pq = Similarity.readIvfPqIndex(spark, root("ivfpq"))
      Retrieval.readBm25Index(spark, root("bm25"))
      (ivf, pq)
    }
    // a probe's output is the top-k list the client asked for, so each
    // probe materializes it by collecting it
    probes = (0 until probesPerCycle).map { j =>
      val q = nextQuery
      nextQuery = (nextQuery + 1) % queries
      val (kind, run): (String, () => DataFrame) = j % 3 match {
        case 0 => "ivf" -> (() => Similarity.probeIvfIndex(ivf,
          vecQueries(q), "id", "vec", K, NProbe))
        case 1 => "ivfpq" -> (() => Similarity.probeIvfPqIndex(pq,
          vecQueries(q), "id", "vec", K, NProbe))
        case _ => "bm25" -> (() => Retrieval.probeBm25Index(spark,
          root("bm25"), textQueries(q), "id", "text", K))
      }
      var rows = Seq.empty[Row]
      ctx.request(rec.call(s"ops.${kind}_probe")(run())(df =>
        rows = df.collect().toSeq))
      (kind, q, rows)
    }
  }

  private val recalls = mutable.ArrayBuffer.empty[Double]

  def verify(): Unit = {
    val total = corpus + arrived * perDelta
    Seq("ivf" -> "postings", "ivfpq" -> "codes").foreach { case (idx, data) =>
      val r = ctx.spark.read.parquet(root(idx) + "/" + data)
        .agg(count(lit(1)), countDistinct(col("corpus_id"))).head()
      ctx.check(s"ann_index $idx holds corpus and deltas once",
        r.getLong(0) == total && r.getLong(1) == total,
        s"rows ${r.getLong(0)}, distinct ${r.getLong(1)}, want $total")
    }
    val ids = (r: Row, c: String) => r.getAs[Number](c).longValue
    probes.foreach {
      case ("ivf", q, rows) =>
        recalls += rows.map(ids(_, "corpus_id")).toSet
          .intersect(exact(q, arrived)).size / K.toDouble
      case ("ivfpq", q, rows) =>
        val got = rows.map(ids(_, "corpus_id"))
        ctx.check("ann_index IVF-PQ returns k known ids", got.size == K &&
          got.distinct.size == K && got.forall(i => i >= 0 && i < total),
          s"query $q: $got")
      case (_, q, rows) =>
        val got = rows.sortBy(_.getAs[Int]("rank")).map(ids(_, "doc_id"))
        ctx.check("ann_index BM25 top-k equals bm25Retrieve",
          got == bm25Expected.getOrElse(q.toLong, Nil),
          s"query $q: $got vs ${bm25Expected.get(q.toLong)}")
    }
    val mean = recalls.sum / recalls.size
    ctx.sample("ivf_recall_at_10", mean)
    ctx.check("ann_index mean IVF recall@10", mean >= RecallFloor,
      f"$mean%.3f below $RecallFloor")
  }
}
