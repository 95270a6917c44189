package perfbench

import java.nio.file.Path

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.fhir.TerminologyResources
import graft.terminology.{BroadcastableValueSets, ConceptMaps, Hierarchies, Loinc, Snomed, ValueSetUdfs, ValueSets}

/** A terminology release and the analyst queries that use it.
  *
  * Set-up loads the release into a fresh database the way a user would:
  * ValueSets (JSON and XML, up to 10^5 codes), ConceptMaps chained by
  * other-map delegation, and LOINC and SNOMED hierarchies 15 to 20 levels
  * deep whose transitive closure is computed are written; version 2 of the
  * value sets is appended (a duplicate write must be rejected); everything
  * is reloaded, resolved to the latest versions and turned into broadcast
  * value sets and a concept map. The timed part is a fixed round-robin of queries over Observation
  * and Condition tables whose codes are Zipf-skewed: both membership paths
  * on small and medium sets, the broadcast path on the 10^5-code set,
  * descendants-of sets and a translation. Each query is a request. */
final class Terminology(ctx: Ctx) extends Workload(ctx) {
  private val nodes = if (ctx.tiny) 150 else 2000
  private val largeCodes = if (ctx.tiny) 2000 else 100000
  private val observations = if (ctx.tiny) 400 else 40000
  private val conditions = if (ctx.tiny) 300 else 20000
  private val maps = 4
  private val Local = "urn:perfbench:local"
  private val Target = "urn:perfbench:target"

  private def vsUrl(name: String) = s"http://perfbench.test/ValueSet/$name"
  private def cmUrl(k: Int) = s"http://perfbench.test/ConceptMap/cm$k"
  private val Plain = (0 until 6).map(i => s"vs$i")

  private var input: Path = _
  private var loinc, snomed: Tree = _
  /** url → codes of version 2 (the latest). */
  private var latestCodes = Map.empty[String, Set[String]]
  /** Source code → target of the first map in the delegation chain. */
  private var translations = Map.empty[String, String]
  private var loincRef, snomedA, snomedB = 0
  /** Planted result (rows, summed count) per query. */
  private var planted = Map.empty[String, (Long, Long)]

  def sampleUnits: Map[String, String] = Map("queries_per_s" -> "1/s")
  private def dir(name: String) = input.resolve(name).toString

  def generate(root: Path): Unit = {
    input = root
    val rng = new Rng(ctx.seed, "terminology")
    loinc = Tree(rng, nodes, rng.between(15, 20), Tree.loincCode)
    snomed = Tree(rng, nodes, rng.between(15, 20), Tree.snomedCode)
    TermFiles.loincCsv(loinc, root.resolve("loinc/LoincMultiAxialHierarchy.csv"))
    TermFiles.snomedRf2(snomed, rng, root.resolve("snomed/sct2_Relationship.txt"))
    // codes in use are a random subset of each hierarchy, Zipf-weighted
    val loincUsed = IndexedSeq.fill(nodes / 2)(rng.int(loinc.size)).distinct
    val snomedUsed = IndexedSeq.fill(nodes / 2)(rng.int(snomed.size)).distinct
    val lz = new Zipf(loincUsed.size, 1.05)
    val sz = new Zipf(snomedUsed.size, 1.05)

    // version 1 and 2 of every value set; the named ones are queried
    latestCodes = Seq("1", "2").map { v =>
      val sets = Plain.zipWithIndex.map { case (name, i) =>
        val t = if (i % 2 == 0) loinc else snomed
        name -> Seq.fill(rng.between(10, 300))(t.codes(rng.int(t.size))).distinct
      } ++ Seq(
        "small" -> loincUsed.take(40).filter(_ => rng.chance(0.5)).map(loinc.codes),
        "medium" -> Seq.fill(nodes / 4)(loinc.codes(loincUsed(rng.int(loincUsed.size)))).distinct)
      val large = if (v == "2") Seq("large" -> (loinc.codes ++
        (nodes until largeCodes).map(Tree.loincCode))) else Nil
      (sets ++ large).zipWithIndex.foreach { case ((name, codes), i) =>
        val sys = if (name.startsWith("vs") && i % 2 == 1) TermFiles.Snomed
          else TermFiles.Loinc
        TermFiles.write(root.resolve(s"valuesets/v$v"), name,
          TermFiles.valueSet(vsUrl(name), v, Seq(sys -> codes)),
          xml = i % 3 == 2 && name != "large")
      }
      (sets ++ large).map { case (n, c) => vsUrl(n) -> c.toSet }.toMap
    }.last
    // map k covers its own slice of codes and delegates the rest to k + 1
    translations = (0 until maps).flatMap { k =>
      val elems = loinc.codes.indices.filter(_ % maps == k)
        .map(i => loinc.codes(i) -> s"T${i % 40}")
      TermFiles.write(root.resolve("conceptmaps"), s"cm$k",
        TermFiles.conceptMap(cmUrl(k), "1", TermFiles.Loinc, Target, elems,
          if (k + 1 < maps) Some(cmUrl(k + 1)) else None), xml = k == 1)
      elems
    }.toMap
    loincRef = rng.between(1, 4)
    val kids = snomed.children(0).sortBy(k => -snomed.subtree(k).size)
    snomedA = kids.head
    snomedB = kids.last

    def codings(z: Zipf, used: IndexedSeq[Int], t: Tree,
        sys: String): Seq[(String, String)] =
      (0 until rng.between(1, 3)).map { j =>
        if (j > 0 && rng.chance(0.5)) Local -> s"L${rng.int(500)}"
        else sys -> t.codes(used(z.sample(rng)))
      }
    def row(id: String, subject: String, cs: Seq[(String, String)], extra: String) =
      s"""{"id":"$id","subject":"$subject","code":{"coding":[""" +
        cs.map { case (s, c) => s"""{"system":"$s","code":"$c"}""" }.mkString(",") +
        s"""],"text":"c"},$extra}"""
    val obs = (0 until observations).map { i =>
      val cs = codings(lz, loincUsed, loinc, TermFiles.Loinc)
      val subject = s"Patient/p${rng.int(3000)}"
      (row(s"o$i", subject, cs,
        s""""effective":"2020-0${rng.between(1, 9)}-1${rng.int(10)}","value":${rng.int(100000) / 100.0}"""),
        subject, cs)
    }
    val conds = (0 until conditions).map { i =>
      val cs = codings(sz, snomedUsed, snomed, TermFiles.Snomed)
      val subject = s"Patient/p${rng.int(3000)}"
      (row(s"c$i", subject, cs,
        s""""onset":"2019-0${rng.between(1, 9)}-0${rng.between(1, 9)}""""), subject, cs)
    }
    Io.write(root.resolve("tables/observation.ndjson"), obs.map(_._1).mkString("\n"))
    Io.write(root.resolve("tables/condition.ndjson"), conds.map(_._1).mkString("\n"))

    /** Rows = patients with a hit, count = rows with a hit. */
    def cohort(rows: Seq[(String, String, Seq[(String, String)])], sys: String,
        codes: Set[String]): (Long, Long) = {
      val hits = rows.filter(_._3.exists { case (s, c) => s == sys && codes(c) })
      (hits.map(_._2).distinct.size.toLong, hits.size.toLong)
    }
    val sub = (t: Tree, n: Int) => t.subtree(n).map(t.codes).toSet
    val targets = obs.flatMap(_._3).collect {
      case (TermFiles.Loinc, c) if translations.contains(c) => translations(c)
    }
    planted = Map(
      "udf_small" -> cohort(obs, TermFiles.Loinc, latestCodes(vsUrl("small"))),
      "column_small" -> cohort(obs, TermFiles.Loinc, latestCodes(vsUrl("small"))),
      "udf_medium" -> cohort(obs, TermFiles.Loinc, latestCodes(vsUrl("medium"))),
      "column_medium" -> cohort(obs, TermFiles.Loinc, latestCodes(vsUrl("medium"))),
      "udf_large" -> cohort(obs, TermFiles.Loinc, latestCodes(vsUrl("large"))),
      "descendants_loinc" -> cohort(obs, TermFiles.Loinc, sub(loinc, loincRef)),
      "descendants_snomed_a" -> cohort(conds, TermFiles.Snomed, sub(snomed, snomedA)),
      "descendants_snomed_b" -> cohort(conds, TermFiles.Snomed, sub(snomed, snomedB)),
      "translate" -> (targets.distinct.size.toLong, targets.size.toLong))
  }

  private var bvs: BroadcastableValueSets = _

  /** The release load, once, with its checks; then the query tables. */
  def prepare(): Unit = {
    load()
    val spark = ctx.spark
    val codeType = StructType(Seq(
      StructField("coding", ArrayType(StructType(Seq(
        StructField("system", StringType), StructField("code", StringType))))),
      StructField("text", StringType)))
    def table(name: String, extra: Seq[StructField]): Unit = {
      val schema = StructType(Seq(StructField("id", StringType),
        StructField("subject", StringType), StructField("code", codeType)) ++ extra)
      spark.read.schema(schema).json(dir(s"tables/$name.ndjson"))
        .write.mode("overwrite").parquet(ctx.dir(s"tables/$name"))
      spark.read.parquet(ctx.dir(s"tables/$name")).createOrReplaceTempView(name)
    }
    table("observation", Seq(StructField("effective", StringType),
      StructField("value", DoubleType)))
    table("condition", Seq(StructField("onset", StringType)))
  }

  private def load(): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val db = "terminology"
    val vs = rec.span("fhir.vs_import.construct")(
      TerminologyResources.withValueSetsFromDirectory(spark,
        ValueSets.getEmpty(spark), dir("valuesets/v1")))
    val cm = rec.span("fhir.cm_import.construct")(
      TerminologyResources.withConceptMapsFromDirectory(spark,
        ConceptMaps.getEmpty(spark), dir("conceptmaps")))
    val (le, se) = rec.span("terminology.hier_read.construct")((
      Loinc.readMultiaxialHierarchyFile(spark, dir("loinc")),
      Snomed.readRelationshipFile(spark, dir("snomed"))))
    val h = rec.span("closure.construct")(Hierarchies.getEmpty(spark)
      .withHierarchyElements(Loinc.HierarchyUri, "1", le)
      .withHierarchyElements(Snomed.HierarchyUri, "1", se))
    rec.span("terminology.write.execute") {
      vs.writeToDatabase(db)
      cm.writeToDatabase(db)
      rec.span("terminology.write.ancestors")(h.writeToDatabase(db))
    }
    rec.annotate("terminology.write.execute")(Map("files" ->
      Util.dataFiles(ctx.dir(s"warehouse/$db.db")).toDouble))
    val dupRejected = rec.span("terminology.append.execute") {
      TerminologyResources.withValueSetsFromDirectory(spark,
        ValueSets.getEmpty(spark), dir("valuesets/v2")).writeToDatabase(db)
      try { vs.writeToDatabase(db); false }
      catch { case _: IllegalArgumentException => true }
    }
    val (rvs, rcm, rh) = rec.span("terminology.reload.construct")((
      ValueSets.getFromDatabase(spark, db),
      ConceptMaps.getFromDatabase(spark, db),
      Hierarchies.getFromDatabase(spark, db)))
    val (vsl, cml, hl) = rec.span("terminology.latest.construct")((
      rvs.getLatestVersionsMap(includeExperimental = false),
      rcm.getLatestVersionsMap(includeExperimental = false),
      rh.getLatestVersions))
    bvs = rec.span("terminology.broadcast_build.construct")(
      BroadcastableValueSets.newBuilder()
        .addReference("small", vsUrl("small"))
        .addReference("medium", vsUrl("medium"))
        .addReference("large", vsUrl("large"))
        .addDescendantsOf("desc_loinc", TermFiles.Loinc, loinc.codes(loincRef),
          Loinc.HierarchyUri)
        .addDescendantsOf("desc_snomed_a", TermFiles.Snomed,
          snomed.codes(snomedA), Snomed.HierarchyUri)
        .addDescendantsOf("desc_snomed_b", TermFiles.Snomed,
          snomed.codes(snomedB), Snomed.HierarchyUri)
        .build(spark, rvs, rh))
    rec.annotate("terminology.broadcast_build.construct")(Map(
      "broadcast_bytes" -> SparkEnv.get.serializer.newInstance()
        .serialize(bvs).limit().toDouble))
    val bcm = rec.span("terminology.cm_broadcast.construct")(
      TerminologyResources.broadcastConceptMapFromDirectory(spark,
        dir("conceptmaps"), cmUrl(0)))
    ValueSetUdfs.pushUdf(spark, bvs)
    ValueSetUdfs.registerTranslate(spark, "translate", bcm)

    ctx.check("terminology duplicate write rejected", dupRejected)
    val pairs = rh.getAncestors.groupBy(col("uri")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(Loinc.HierarchyUri -> loinc, Snomed.HierarchyUri -> snomed).foreach {
      case (uri, t) => ctx.check(s"terminology ancestor pairs of $uri",
        pairs.get(uri).contains(t.ancestorPairs),
        s"got ${pairs.get(uri)}, want ${t.ancestorPairs}")
    }
    ctx.check("terminology value sets resolve to v2",
      vsl == latestCodes.keys.map(_ -> "2").toMap, vsl.toString)
    ctx.check("terminology concept maps resolve to 1",
      cml == (0 until maps).map(k => cmUrl(k) -> "1").toMap, cml.toString)
    ctx.check("terminology hierarchies resolve to 1",
      hl == Map(Loinc.HierarchyUri -> "1", Snomed.HierarchyUri -> "1"), hl.toString)
    val want = Map(
      "small" -> latestCodes(vsUrl("small")),
      "medium" -> latestCodes(vsUrl("medium")),
      "large" -> latestCodes(vsUrl("large")),
      "desc_loinc" -> loinc.subtree(loincRef).map(loinc.codes).toSet,
      "desc_snomed_a" -> snomed.subtree(snomedA).map(snomed.codes).toSet,
      "desc_snomed_b" -> snomed.subtree(snomedB).map(snomed.codes).toSet)
    want.foreach { case (ref, codes) =>
      val got = bvs.valueSets.getOrElse(ref, Map.empty).values.flatten.toSet
      ctx.check(s"terminology broadcast $ref", got == codes,
        s"got ${got.size} codes, want ${codes.size}")
    }
    val sample = loinc.codes.indices.by(math.max(1, nodes / 50)).map(loinc.codes)
    ctx.check("terminology translation through the delegation chain",
      sample.forall(c => bcm.getTarget(TermFiles.Loinc, c).map(_.value) ==
        translations.get(c).toList))
  }

  /** A cohort query: patients whose observation matches, with counts. */
  private def cohort(table: String, where: String): DataFrame = ctx.spark.sql(
    s"SELECT subject, count(*) AS n FROM $table WHERE $where GROUP BY subject")
  private def udf(name: String, ref: String) = (name, "terminology.udf_probe",
    () => cohort("observation", s"in_valueset(code, '$ref')"))
  private def column(name: String, ref: String) = (name, "terminology.column_probe",
    () => ctx.spark.table("observation")
      .where(ValueSetUdfs.inValueSetColumn(col("code"), ref, bvs))
      .groupBy("subject").agg(count(lit(1)).as("n")))
  private def descendants(name: String, table: String, ref: String) =
    (name, "terminology.descendants_probe",
      () => cohort(table, s"in_valueset(code, '$ref')"))
  private val translate = ("translate", "terminology.translate", () =>
    ctx.spark.sql("""SELECT t.value, count(*) AS n
      |FROM observation
      |LATERAL VIEW explode(code.coding) c AS coding
      |LATERAL VIEW explode(translate(coding.system, coding.code)) m AS t
      |GROUP BY t.value""".stripMargin))

  /** A literal map of 10^5 codes is not what the column form is for, so
    * the large set only goes through the broadcast path. */
  private lazy val round = Seq(udf("udf_small", "small"),
    column("column_small", "small"),
    descendants("descendants_snomed_a", "condition", "desc_snomed_a"),
    translate, udf("udf_medium", "medium"), column("column_medium", "medium"),
    descendants("descendants_loinc", "observation", "desc_loinc"),
    descendants("descendants_snomed_b", "condition", "desc_snomed_b"),
    udf("udf_large", "large"))

  private var results = Seq.empty[(String, Seq[Row])]

  /** Each query's result is a small aggregate the analyst reads back, so
    * it is materialized by collecting it. */
  def cycle(): Unit = {
    val (_, s) = Ctx.seconds {
      results = round.map { case (name, span, query) =>
        var rows = Seq.empty[Row]
        ctx.request(ctx.rec.call(span)(query())(df => rows = df.collect().toSeq))
        ctx.rec.annotate(span + ".execute")(Map("rows_out" -> rows.size.toDouble))
        name -> rows
      }
    }
    ctx.sample("queries_per_s", round.size / s)
  }

  def verify(): Unit = results.foreach { case (name, rows) =>
    val got = (rows.size.toLong, rows.map(_.getAs[Long]("n")).sum)
    ctx.check(s"terminology query $name", got == planted(name),
      s"got (rows, count) $got, want ${planted(name)}")
  }

  /** The directory import and the hierarchy readers only execute fused
    * into the writes and the closure; materialized alone, they time
    * themselves. */
  override def staged(): Unit = {
    val spark = ctx.spark
    (0 until 3).foreach { _ =>
      ctx.rec.span("staged") {
        ctx.rec.span("fhir.stage.vs_import") {
          val (meta, values) = TerminologyResources.valueSetsFromDirectory(
            spark, dir("valuesets/v1"))
          Ctx.noop(meta)
          Ctx.noop(values.toDF())
        }
        ctx.rec.span("terminology.stage.hier_read") {
          Ctx.noop(Loinc.readMultiaxialHierarchyFile(spark, dir("loinc")).toDF())
          Ctx.noop(Snomed.readRelationshipFile(spark, dir("snomed")).toDF())
        }
      }
    }
  }
}
