package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.fhir.{Bundles, FhirSchemas, FhirXml, StructureDefinitions}

/** Bundle ingest and export. Each bundle file is one patient: a US-Core
  * Patient with race and birth-sex extensions, Observations with LOINC-like
  * codes and decimal quantities, SNOMED-like Conditions, and
  * MedicationRequests that each carry a contained Medication. About one
  * file in five is FHIR XML. The bundles are split into shards; one cycle
  * ingests one shard and exports it again. */
final class FhirIngest(ctx: Ctx) extends Workload(ctx) {
  private val Types = Seq("Patient", "Observation", "Condition",
    "MedicationRequest")
  private val shards = if (ctx.tiny) 2 else 6
  private val perShard = if (ctx.tiny) 5 else 40

  import FhirIngest.Truth
  private var truth = Vector.empty[Truth]
  private var input: Path = _
  private var next = 0
  private var last = -1

  def sampleUnits: Map[String, String] = Map(
    "ingest_resources_per_s" -> "resources/s",
    "export_resources_per_s" -> "resources/s")

  private def shardDir(s: Int): String = input.resolve(f"shard$s%02d").toString

  def generate(dir: Path): Unit = {
    input = dir
    val rng = new Rng(ctx.seed, "fhir_ingest")
    val loinc = new Zipf(400, 1.1)
    val snomed = new Zipf(300, 1.1)
    truth = (0 until shards).map { s =>
      val rows = Types.map(_ -> Vector.newBuilder[String]).toMap
      val expMed, expObs = Vector.newBuilder[String]
      (0 until perShard).foreach { b =>
        val pid = s"p${ctx.seed}-$s-$b"
        val ref = s"Patient/$pid"
        val gender = rng.pick(Vector("female", "male", "other"))
        val birth = f"${rng.between(1930, 2015)}-${rng.between(1, 12)}%02d-${rng.between(1, 28)}%02d"
        val sex = if (gender == "female") "F" else "M"
        val race = rng.pick(Vector("2106-3", "2054-5", "2028-9", "1002-5"))
        val family = s"Fam${rng.int(5000)}"
        val patient = Obj(
          "resourceType" -> Str("Patient"), "id" -> Str(pid),
          "meta" -> Obj("profile" -> Arr(Str(
            "http://hl7.org/fhir/us/core/StructureDefinition/us-core-patient"))),
          "extension" -> Arr(
            Obj("url" -> Str(FhirSchemas.RaceExtensionUrl),
              "extension" -> Arr(
                Obj("url" -> Str("ombCategory"), "valueCoding" ->
                  Doc.coding("urn:oid:2.16.840.1.113883.6.238", race)),
                Obj("url" -> Str("text"), "valueString" -> Str("race")))),
            Obj("url" -> Str(FhirSchemas.BirthSexExtensionUrl),
              "valueCode" -> Str(sex))),
          "identifier" -> Arr(Obj("system" -> Str("urn:mrn"),
            "value" -> Str(s"MRN${rng.int(1000000)}"))),
          "name" -> Arr(Obj("family" -> Str(family),
            "given" -> Arr(Str("Ann"), Str(s"G${rng.int(100)}")))),
          "gender" -> Str(gender), "birthDate" -> Str(birth),
          "address" -> Arr(Obj("line" -> Arr(Str(s"${rng.int(999)} Main St")),
            "city" -> Str("Kansas City"), "state" -> Str("MO"),
            "postalCode" -> Str(f"${rng.int(99999)}%05d"))))
        rows("Patient") += s"$pid|$gender|$birth|$sex|$race|$family"
        val obs = (0 until rng.between(3, 6)).map { j =>
          val id = s"o-$pid-$j"
          val code = Tree.loincCode(loinc.sample(rng))
          val value = BigDecimal(rng.between(100, 999999)) / 100
          val v4 = value.setScale(4).bigDecimal.toPlainString
          val when = f"20${rng.between(10, 23)}-${rng.between(1, 12)}%02d-0${rng.between(1, 9)}T10:00:00Z"
          rows("Observation") += s"$id|$ref|$code|$v4|$when"
          expObs += s"$id|$code|$v4|$ref"
          Obj("resourceType" -> Str("Observation"), "id" -> Str(id),
            "status" -> Str("final"),
            "category" -> Arr(Obj("coding" -> Arr(Doc.coding(
              "http://terminology.hl7.org/CodeSystem/observation-category",
              "laboratory")))),
            "code" -> Obj("coding" -> Arr(Doc.coding("http://loinc.org", code))),
            "subject" -> Obj("reference" -> Str(ref)),
            "effectiveDateTime" -> Str(when),
            "valueQuantity" -> Obj("value" -> Num(value.toString),
              "unit" -> Str("mg/dL"), "system" -> Str("http://unitsofmeasure.org"),
              "code" -> Str("mg/dL")))
        }
        val conds = (0 until rng.between(1, 3)).map { j =>
          val id = s"c-$pid-$j"
          val code = Tree.snomedCode(snomed.sample(rng))
          val onset = f"20${rng.between(10, 23)}-0${rng.between(1, 9)}-1${rng.between(0, 9)}"
          rows("Condition") += s"$id|$ref|$code|$onset"
          Obj("resourceType" -> Str("Condition"), "id" -> Str(id),
            "clinicalStatus" -> Str("active"),
            "verificationStatus" -> Str("confirmed"),
            "code" -> Obj("coding" -> Arr(Doc.coding("http://snomed.info/sct", code))),
            "subject" -> Obj("reference" -> Str(ref)),
            "onsetDateTime" -> Str(onset))
        }
        val meds = (0 until rng.between(1, 2)).map { j =>
          val id = s"m-$pid-$j"
          val rx = s"${rng.between(100000, 999999)}"
          val authored = f"20${rng.between(10, 23)}-0${rng.between(1, 9)}-2${rng.between(0, 8)}"
          rows("MedicationRequest") += s"$id|$ref|$authored|active"
          expMed += s"$id|$ref|Medication|$rx"
          Obj("resourceType" -> Str("MedicationRequest"), "id" -> Str(id),
            "contained" -> Arr(Obj("resourceType" -> Str("Medication"),
              "id" -> Str("med1"), "code" -> Obj("coding" -> Arr(Doc.coding(
                "http://www.nlm.nih.gov/research/umls/rxnorm", rx))))),
            "status" -> Str("active"), "intent" -> Str("order"),
            "medicationReference" -> Obj("reference" -> Str("#med1")),
            "subject" -> Obj("reference" -> Str(ref)),
            "authoredOn" -> Str(authored))
        }
        val entries = (patient +: (obs ++ conds ++ meds))
          .map(r => Obj("resource" -> r))
        val bundle = Obj("resourceType" -> Str("Bundle"),
          "type" -> Str("collection"), "entry" -> Arr(entries: _*))
        val name = f"${shardDir(s)}/bundle$b%03d"
        if (rng.chance(0.2)) Io.write(java.nio.file.Paths.get(name + ".xml"), Doc.xml(bundle))
        else Io.write(java.nio.file.Paths.get(name + ".json"), Doc.json(bundle))
      }
      Truth(rows.map { case (k, v) => k -> v.result() }, expMed.result(),
        expObs.result())
    }.toVector
  }

  private def resources(t: Truth): Int = t.rows.values.map(_.size).sum

  /** Compiles the conformance pack shipped with the library into a profile
    * registry, and the bundle envelope for the ingested types. The ingest
    * itself parses with the default registry, as `fromDirectory` does. */
  def prepare(): Unit = ctx.rec.span("fhir.compile.construct") {
    StructureDefinitions.fromClasspath().registry
    FhirSchemas.bundleEnvelopeSchemaFor(Types, FhirSchemas.defaultRegistry)
    ()
  }

  private def exportDir(t: String): String = ctx.dir(s"export/$t")

  def cycle(): Unit = {
    val s = next
    next = (next + 1) % shards
    val spark = ctx.spark
    val t = truth(s)
    val (bundles, ingestS) = Ctx.seconds {
      val bundles = ctx.rec.span("fhir.load.construct")(
        Bundles.fromDirectory(spark, shardDir(s)))
      ctx.rec.span("fhir.save.execute")(
        Bundles.saveAsDatabase(spark, bundles, "fhir", Types))
      bundles
    }
    ctx.rec.annotate("fhir.save.execute")(Map(
      "disk_bytes" -> Util.dataBytes(shardDir(s)).toDouble,
      "files" -> Types.map(x => Util.dataFiles(
        ctx.dir(s"warehouse/fhir.db/${x.toLowerCase}"))).sum.toDouble))
    ctx.sample("ingest_resources_per_s", resources(t) / ingestS)
    val (_, exportS) = Ctx.seconds {
      ctx.rec.call("fhir.decode")(Bundles.toJson(
        Bundles.extractEntry(spark, bundles, "MedicationRequest",
          Seq("Medication")), "MedicationRequest"))(
        _.write.mode("overwrite").text(exportDir("medicationrequest")))
      ctx.rec.call("fhir.decode")(
        Bundles.toJson(spark.table("fhir.observation"), "Observation"))(
        _.write.mode("overwrite").text(exportDir("observation")))
    }
    ctx.sample("export_resources_per_s",
      (t.exportMedReq.size + t.exportObs.size) / exportS)
    last = s
  }

  private val exportSchema = StructType(Seq(
    StructField("resourceType", StringType), StructField("id", StringType),
    StructField("subject", StructType(Seq(StructField("reference", StringType)))),
    StructField("code", StructType(Seq(StructField("coding", ArrayType(
      StructType(Seq(StructField("system", StringType),
        StructField("code", StringType)))))))),
    StructField("valueQuantity", StructType(Seq(
      StructField("value", DecimalType(12, 4))))),
    StructField("contained", ArrayType(StructType(Seq(
      StructField("resourceType", StringType),
      StructField("code", StructType(Seq(StructField("coding", ArrayType(
        StructType(Seq(StructField("code", StringType))))))))))))))

  /** Every stored table and both exports, flattened to the generator's
    * line format and tagged, in one job. The exports are read back with a
    * plain `from_json`, not with the library. */
  def verify(): Unit = {
    val spark = ctx.spark
    def tagged(tag: String, df: DataFrame, cols: Column*): DataFrame =
      df.select(lit(tag).as("tag"), concat_ws("|", cols: _*).as("line"))
    val table = (t: String) => spark.table(s"fhir.${t.toLowerCase}")
    def exported(t: String): DataFrame = spark.read.text(exportDir(t))
      .select(from_json(col("value"), exportSchema).as("r")).select("r.*")
    val parts = Seq(
      tagged("Patient", table("Patient"), col("id"), col("gender"),
        col("birthDate"), col("birthSex"),
        col("race.ombCategory").getItem(0).getField("code"),
        col("name").getItem(0).getField("family")),
      tagged("Observation", table("Observation"), col("id"),
        col("subject.reference"),
        col("code.coding").getItem(0).getField("code"),
        col("valueQuantity.value").cast("string"), col("effectiveDateTime")),
      tagged("Condition", table("Condition"), col("id"),
        col("subject.reference"),
        col("code.coding").getItem(0).getField("code"), col("onsetDateTime")),
      tagged("MedicationRequest", table("MedicationRequest"), col("id"),
        col("subject.reference"), col("authoredOn"), col("status")),
      tagged("export:MedicationRequest", exported("medicationrequest"),
        col("id"), col("subject.reference"),
        col("contained").getItem(0).getField("resourceType"),
        col("contained").getItem(0).getField("code").getField("coding")
          .getItem(0).getField("code")),
      tagged("export:Observation", exported("observation"), col("id"),
        col("code.coding").getItem(0).getField("code"),
        col("valueQuantity.value").cast("string"), col("subject.reference")))
    val got = parts.reduce(_ union _).collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getString(1)).toSeq }
    val t = truth(last)
    val want = t.rows ++ Map("export:MedicationRequest" -> t.exportMedReq,
      "export:Observation" -> t.exportObs)
    want.foreach { case (k, lines) =>
      val g = got.getOrElse(k, Nil)
      ctx.check(s"fhir_ingest $k rows", g.size == lines.size,
        s"got ${g.size}, want ${lines.size}")
      ctx.check(s"fhir_ingest $k hash",
        Io.multisetHash(g) == Io.multisetHash(lines),
        g.diff(lines).take(3).mkString("; "))
    }
  }

  /** Load, XML conversion, parse and extraction run fused inside each save
    * job. Materialized cumulatively, their differences are the self times. */
  override def staged(): Unit = {
    val spark = ctx.spark
    val dir = shardDir(0)
    val toJson = udf((s: String) => FhirXml.bundleXmlToJson(s))
    (0 until 3).foreach { _ =>
      ctx.rec.span("staged") {
        val raw = Bundles.loadFromDirectory(spark, dir)
        ctx.rec.span("fhir.stage.load")(Ctx.noop(raw))
        ctx.rec.span("fhir.stage.xml")(Ctx.noop(raw.withColumn("bundle_json",
          when(col("source_file").endsWith(".xml"), toJson(col("bundle_json")))
            .otherwise(col("bundle_json")))))
        ctx.rec.span("fhir.stage.parse")(Ctx.noop(
          Bundles.fromDirectory(spark, dir).select("bundle")))
        ctx.rec.span("fhir.stage.extract")(Types.foreach(t => Ctx.noop(
          Bundles.extractEntry(spark, Bundles.fromDirectory(spark, dir), t))))
        ctx.rec.annotate("fhir.stage.extract")(Map("times" -> Types.size.toDouble))
      }
    }
  }
}

object FhirIngest {
  /** Flattened scalars per resource type, one line per resource, and the
    * same for the two exports, from the generator. */
  final case class Truth(rows: Map[String, Seq[String]],
      exportMedReq: Seq[String], exportObs: Seq[String])
}
