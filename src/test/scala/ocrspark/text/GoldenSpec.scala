package ocrspark.text

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Byte-identity golden suite (SURVEY.md §5.2 #1).
  *
  * golden.json is produced by `tools/gen_golden.py`, which executes the
  * REFERENCE's own pure functions (/root/reference/app.py:434-451,
  * 505-533,538-540) under CPython `re` on an authored input corpus —
  * CPython output is the arbiter; these tests assert our Scala engine
  * equals it byte-for-byte, per case.
  */
class GoldenSpec extends AnyFunSuite {

  case class Golden(name: String, input: String, normalized: String,
                    fields: Map[String, String], fieldsRaw: Map[String, String])

  lazy val (cases: Vector[Golden], separators: Vector[(Int, Int, String)]) = {
    val in = getClass.getResourceAsStream("/golden/golden.json")
    require(in != null, "golden.json missing — run tools/gen_golden.py")
    val root = new ObjectMapper().readTree(in)
    val cs = root.get("cases").elements().asScala.map { c =>
      def strMap(field: String): Map[String, String] =
        c.get(field).properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      Golden(c.get("name").asText(), c.get("input").asText(),
        c.get("normalized").asText(), strMap("fields"), strMap("fields_raw"))
    }.toVector
    val seps = root.get("separators").elements().asScala.map { s =>
      (s.get("page").asInt(), s.get("total").asInt(), s.get("sep").asText())
    }.toVector
    (cs, seps)
  }

  test("golden corpus is substantial") {
    assert(cases.size >= 100, s"only ${cases.size} golden cases")
  }

  test("normalizeLegal is byte-identical to CPython reference on every case") {
    val bad = cases.filter(c => Normalize.normalizeLegal(c.input) != c.normalized)
    val msg = bad.headOption.fold("")(c =>
      s"${bad.size} mismatches; first=${c.name}\n got=${Normalize.normalizeLegal(c.input)}\nwant=${c.normalized}")
    assert(bad.isEmpty, msg)
  }

  test("field extraction matches reference on normalized text (pipeline order)") {
    val bad = cases.filter(c => Fields.extract(c.normalized) != c.fields)
    val msg = bad.headOption.fold("")(c =>
      s"${bad.size} mismatches; first=${c.name}\n got=${Fields.extract(c.normalized)}\nwant=${c.fields}")
    assert(bad.isEmpty, msg)
  }

  test("field extraction matches reference on raw text (extractor alone)") {
    val bad = cases.filter(c => Fields.extract(c.input) != c.fieldsRaw)
    val msg = bad.headOption.fold("")(c =>
      s"${bad.size} mismatches; first=${c.name}\n got=${Fields.extract(c.input)}\nwant=${c.fieldsRaw}")
    assert(bad.isEmpty, msg)
  }

  test("quirk 2 chain: date mangler destroys the expediente id end-to-end " +
    "(chain_q2_date_destroys_expediente)") {
    // The unanchored dd[-/]dd[-/]yyyy rewrite (app.py:130, replicated at
    // Normalize.scala) hits "24-0-0401" INSIDE the expediente id, so the
    // id survives raw extraction but the pipeline order (normalize →
    // extract, app.py:638,768) loses it — and extracts a bogus fecha
    // instead. This is the documented quirk-2 consequence, pinned
    // against the CPython-generated truth AND reproduced by the Scala
    // chain.
    val c = cases.find(_.name == "chain_q2_date_destroys_expediente").get
    assert(c.fieldsRaw.get("expediente").contains("01234-2024-0-0401-JR"))
    assert(!c.fields.contains("expediente"))
    assert(c.fields.get("fecha").contains("24"))
    assert(c.normalized.contains("2024/0/0401"))
    val norm = Normalize.normalizeLegal(c.input)
    assert(norm == c.normalized)
    assert(Fields.extract(norm) == c.fields)
    assert(Fields.extract(c.input) == c.fieldsRaw)
  }

  // Cases outside the golden corpus (tools/gen_golden.py needs the
  // reference app to add them); the expected values are CPython `re`
  // output for the same patterns and flags.

  test("exotic case folds (ſ, İ) match the fiscal pattern as CPython re.I does") {
    // re.search(r"FISCAL[:\s]+([A-ZÁÉÍÓÚÑ\s]+?)(?:\n|$)", s, re.I).group(1)
    Seq("FIſCAL: JUAN PEREZ\n", "FİSCAL: JUAN PEREZ\n").foreach { s =>
      assert(Fields.extract(s) == Map("fiscal" -> "JUAN PEREZ"), s)
    }
  }

  test("astral digits are \\d, as in CPython re") {
    // re.sub(r"Inc\.?\s*(\d+)", r"Inciso \1", "inc𝟏𝟐", flags=re.I|re.M)
    assert(Normalize.normalizeLegal("inc𝟏𝟐") == "Inciso 𝟏𝟐")
    // re.search(r"(\d{1,2})\s+de\s+(\w+)\s+del?\s+(\d{4})", s, re.I).group(1)
    assert(Fields.extract("𝟏𝟐 de marzo del 𝟐𝟎𝟐𝟒") == Map("fecha" -> "𝟏𝟐"))
  }

  test("one-pass dict correction == sequential reference order on every case") {
    cases.foreach { c =>
      assert(Normalize.applyCorrections(c.input) ==
        Normalize.applyCorrectionsSequential(c.input), c.name)
    }
  }

  test("page separators byte-identical") {
    separators.foreach { case (p, t, want) =>
      assert(PageAssembly.separator(p, t) == want, s"sep($p,$t)")
    }
  }
}
