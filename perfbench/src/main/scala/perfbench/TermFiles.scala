package perfbench

import java.nio.file.Path

/** Terminology release files in the formats the library's readers take. */
object TermFiles {
  val Loinc = "http://loinc.org"
  val Snomed = "http://snomed.info/sct"

  /** A LOINC multiaxial hierarchy CSV: one row per node, the root with an
    * empty IMMEDIATE_PARENT. */
  def loincCsv(t: Tree, path: Path): Unit = {
    val sb = new StringBuilder("PATH_TO_ROOT,SEQUENCE,IMMEDIATE_PARENT,CODE,CODE_TEXT\n")
    t.codes.indices.foreach { i =>
      val p = if (t.parent(i) < 0) "" else t.codes(t.parent(i))
      sb ++= s"$p,${i + 1},$p,${t.codes(i)},Part $i\n"
    }
    Io.write(path, sb.toString)
  }

  /** A SNOMED RF2 relationship file: an active is-a row per edge, plus
    * inactive and non-is-a rows that the reader must drop. */
  def snomedRf2(t: Tree, rng: Rng, path: Path): Unit = {
    val sb = new StringBuilder("id\teffectiveTime\tactive\tmoduleId\tsourceId\t" +
      "destinationId\trelationshipGroup\ttypeId\tcharacteristicTypeId\tmodifierId\n")
    var id = 1000000L
    def row(active: Int, src: String, dst: String, tpe: String): Unit = {
      id += 1
      sb ++= s"$id\t20200131\t$active\t900000000000207008\t$src\t$dst\t0\t$tpe\t" +
        "900000000000011006\t900000000000451002\n"
    }
    t.codes.indices.filter(t.parent(_) >= 0).foreach { i =>
      row(1, t.codes(i), t.codes(t.parent(i)), "116680003")
      if (rng.chance(0.1)) row(0, t.codes(i), t.codes(rng.int(t.size)), "116680003")
      if (rng.chance(0.1)) row(1, t.codes(i), t.codes(rng.int(t.size)), "363698007")
    }
    Io.write(path, sb.toString)
  }

  def valueSet(url: String, version: String,
      include: Seq[(String, Seq[String])]): Doc =
    Obj("resourceType" -> Str("ValueSet"), "id" -> Str(url.split('/').last),
      "url" -> Str(url), "version" -> Str(version),
      "name" -> Str(url.split('/').last), "status" -> Str("active"),
      "experimental" -> Bool(false), "publisher" -> Str("perfbench"),
      "date" -> Str("2020-01-31"),
      "compose" -> Obj("include" -> Arr(include.map { case (sys, codes) =>
        Obj("system" -> Str(sys),
          "concept" -> Arr(codes.map(c => Obj("code" -> Str(c))): _*))
      }: _*)))

  /** A ConceptMap from `source` to `target` codes; codes it does not map
    * fall through to `otherMap` when given. */
  def conceptMap(url: String, version: String, source: String,
      target: String, elements: Seq[(String, String)],
      otherMap: Option[String]): Doc = {
    val group = Seq(
      "source" -> Str(source), "target" -> Str(target),
      "element" -> Arr(elements.map { case (s, t) =>
        Obj("code" -> Str(s), "target" -> Arr(Obj("code" -> Str(t),
          "equivalence" -> Str("equivalent"))))
      }: _*)) ++ otherMap.map(u =>
      "unmapped" -> Obj("mode" -> Str("other-map"), "url" -> Str(u)))
    Obj("resourceType" -> Str("ConceptMap"), "id" -> Str(url.split('/').last),
      "url" -> Str(url), "version" -> Str(version),
      "name" -> Str(url.split('/').last), "status" -> Str("active"),
      "experimental" -> Bool(false), "publisher" -> Str("perfbench"),
      "date" -> Str("2020-01-31"), "sourceUri" -> Str(source + "/vs"),
      "targetUri" -> Str(target + "/vs"), "group" -> Arr(Obj(group: _*)))
  }

  /** Write `doc` as JSON, or as XML when `xml`. */
  def write(dir: Path, name: String, doc: Doc, xml: Boolean): Unit =
    if (xml) Io.write(dir.resolve(name + ".xml"), Doc.xml(doc))
    else Io.write(dir.resolve(name + ".json"), Doc.json(doc))
}
