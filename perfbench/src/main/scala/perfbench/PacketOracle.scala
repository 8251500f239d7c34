package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ObjectNode, TextNode}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Checks a load directory against the reference's expected packets:
  * every generated subject must have exactly one packet, equal to its
  * template's `expected_P00x.json` once the subject id is mapped back to
  * the template's and the reference's comparison normalisations (those of
  * `ReferenceGoldenE2eSpec`) are applied. Numbers compare by value, so
  * `175` equals `175.0`.
  *
  * @param subjects generated subject id -> template patient id
  */
final class PacketOracle(expectedDir: Path, subjects: Map[String, String]) {
  private val mapper = new ObjectMapper()

  private val expected: Map[String, JsonNode] =
    Files.list(expectedDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => mapper.readTree(Files.readString(p)))
      .map(n => n.get("subject").get("id").asText() -> normalize(n))
      .toMap

  /** Number of failed packets: missing, extra, unreadable or not equal. */
  def failures(outDir: Path, log: String => Unit): Int = {
    val files =
      if (Files.isDirectory(outDir)) Files.list(outDir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".json"))
      else Seq.empty
    val seen = scala.collection.mutable.Set.empty[String]
    var failed = 0
    files.foreach { p =>
      val verdict =
        try {
          val n = mapper.readTree(Files.readString(p))
          val sid = n.get("subject").get("id").asText()
          subjects.get(sid) match {
            case None => Some(s"unexpected subject $sid")
            case Some(_) if !seen.add(sid) => Some(s"second packet for $sid")
            case Some(template) =>
              val diffs = scala.collection.mutable.ArrayBuffer.empty[String]
              diff("$", expected(template), normalize(replaceText(n, sid, template)), diffs)
              if (diffs.isEmpty) None else Some(diffs.take(5).mkString("; "))
          }
        } catch { case e: Exception => Some(s"unreadable: $e") }
      verdict.foreach { v =>
        failed += 1
        if (failed <= 5) log(s"packet ${p.getFileName}: $v")
      }
    }
    val missing = subjects.size - seen.size
    if (missing > 0) log(s"$missing expected packets missing")
    failed + missing
  }

  /** Maps a generated subject id back to its template's in every string. */
  private def replaceText(n: JsonNode, from: String, to: String): JsonNode = n match {
    case t: TextNode => TextNode.valueOf(t.asText().replace(from, to))
    case o: ObjectNode =>
      val c = o.deepCopy()
      o.fieldNames().asScala.toSeq.foreach(k => c.set[JsonNode](k, replaceText(o.get(k), from, to)))
      c
    case a: com.fasterxml.jackson.databind.node.ArrayNode =>
      val c = mapper.createArrayNode()
      a.elements().asScala.foreach(e => c.add(replaceText(e, from, to)))
      c
    case other => other
  }

  // The reference's comparison normalisations, as in ReferenceGoldenE2eSpec.
  private def normalize(root: JsonNode): JsonNode = {
    val n = root.deepCopy[JsonNode]()
    Option(n.get("metaData")).foreach {
      case o: ObjectNode => o.remove("created")
      case _ => ()
    }
    for {
      interp <- Option(n.get("interpretations")).toSeq.flatMap(_.elements().asScala)
      diag <- Option(interp.get("diagnosis"))
      gi <- Option(diag.get("genomicInterpretations")).toSeq.flatMap(_.elements().asScala)
      vi <- Option(gi.get("variantInterpretation"))
      vd <- Option(vi.get("variationDescriptor"))
    } vd.asInstanceOf[ObjectNode].put("id", "TEST_ID")
    for {
      md <- Option(n.get("metaData"))
      rs <- Option(md.get("resources")).toSeq.flatMap(_.elements().asScala)
      if rs.get("id").asText() == "loinc"
    } rs.asInstanceOf[ObjectNode].put("version", "-")
    for {
      subj <- Option(n.get("subject"))
      vs <- Option(subj.get("vitalStatus"))
      if !vs.has("survivalTimeInDays")
    } vs.asInstanceOf[ObjectNode].put("survivalTimeInDays", 0)
    n
  }

  /** Structural diff: object fields order-insensitive, arrays
    * order-sensitive, numbers by value.
    */
  private def diff(path: String, exp: JsonNode, act: JsonNode,
      out: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    if (exp.isNumber && act.isNumber) {
      if (exp.doubleValue() != act.doubleValue())
        out += s"$path: expected ${exp.doubleValue()}, got ${act.doubleValue()}"
    } else if (exp.isObject && act.isObject) {
      val ek = exp.fieldNames().asScala.toSet
      val ak = act.fieldNames().asScala.toSet
      (ek -- ak).foreach(k => out += s"$path.$k: missing")
      (ak -- ek).foreach(k => out += s"$path.$k: unexpected")
      (ek intersect ak).foreach(k => diff(s"$path.$k", exp.get(k), act.get(k), out))
    } else if (exp.isArray && act.isArray) {
      if (exp.size() != act.size())
        out += s"$path: expected ${exp.size()} elements, got ${act.size()}"
      (0 until math.min(exp.size(), act.size())).foreach(i =>
        diff(s"$path[$i]", exp.get(i), act.get(i), out))
    } else if (exp != act) {
      out += s"$path: expected $exp, got $act"
    }
  }
}
