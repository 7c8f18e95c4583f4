package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

import graft.codec.Ccsid
import graft.schema.DclParser

/** DCLGEN parsing over two IBM-layout DCLGEN fixtures on the test
  * classpath (`dcl/DCLTRCAT.dcl`, `dcl/DCLTRTYP.dcl`; capability of
  * dcl_parser.py:169-260) and the CCSID→charset registry
  * (encoding.py:19-40 parity). */
class DclParserSpec extends AnyFunSuite {

  private val dclDir = java.nio.file.Paths.get(
    getClass.getResource("/dcl/DCLTRCAT.dcl").toURI).getParent.toString

  test("DCLTRCAT: DECLARE columns, schema split, column count") {
    val r = DclParser.parseFile(s"$dclDir/DCLTRCAT.dcl")
    assert(r.tableName == "CARDDEMO.TRANSACTION_TYPE_CATEGORY")
    assert(r.schema == "CARDDEMO" && r.table == "TRANSACTION_TYPE_CATEGORY")
    assert(r.columnCount == 3)
    assert(r.columns.map(c => (c.name, c.sqlType, c.nullable)) == Seq(
      ("TRC_TYPE_CODE", "CHAR(2)", false),
      ("TRC_TYPE_CATEGORY", "CHAR(4)", false),
      ("TRC_CAT_DATA", "VARCHAR(50)", false)))
    assert(r.sparkSchema == StructType(Seq(
      StructField("trc_type_code", StringType, nullable = false),
      StructField("trc_type_category", StringType, nullable = false),
      StructField("trc_cat_data", StringType, nullable = false))))
  }

  test("DCLTRCAT: host variables incl. a PIC on its own continuation line") {
    val r = DclParser.parseFile(s"$dclDir/DCLTRCAT.dcl")
    val byName = r.hostVars.map(v => v.name -> v).toMap
    // levels 01 and 49 are structural and excluded
    assert(r.hostVars.forall(v => v.level != 1 && v.level != 49))
    assert(byName("DCL-TRC-TYPE-CODE").pic.contains("PIC X(2)"))
    // DCLGEN wrapped this PIC onto the next line — statement joining finds it
    assert(byName("DCL-TRC-TYPE-CATEGORY").pic.contains("PIC X(4)"))
    // VARCHAR host var is the group item: no PIC of its own
    assert(byName("DCL-TRC-CAT-DATA").pic.isEmpty)
    // name-convention mapping DCL-X-Y ↔ X_Y
    assert(byName("DCL-TRC-TYPE-CODE").sqlColumn.contains("TRC_TYPE_CODE"))
    assert(byName("DCL-TRC-CAT-DATA").sqlColumn.contains("TRC_CAT_DATA"))
    assert(r.hostVars.forall(_.sqlColumn.nonEmpty))
  }

  test("DCLTRTYP parses and maps every column") {
    val r = DclParser.parseFile(s"$dclDir/DCLTRTYP.dcl")
    assert(r.table == "TRANSACTION_TYPE" && r.columnCount == 2)
    assert(r.columns.map(_.name) == Seq("TR_TYPE", "TR_DESCRIPTION"))
    assert(r.hostVars.flatMap(_.sqlColumn) == Seq("TR_TYPE", "TR_DESCRIPTION"))
  }

  test("CCSID registry: all 13 code pages resolve and round-trip ASCII") {
    assert(Ccsid.charsets.size == 13)
    val probe = "HELLO world 0123"
    for (id <- Ccsid.charsetNames.keys) {
      val rt = Ccsid.decode(Ccsid.encode(probe, id), id)
      assert(rt == probe, s"ccsid $id")
    }
  }

  test("CCSID EBCDIC pages differ from ASCII; cp037 matches known bytes") {
    // 'A' is 0xC1 in cp037/cp500/cp1047 — a public EBCDIC fact
    for (id <- Seq(37, 500, 1047))
      assert(Ccsid.encode("A", id).head == 0xC1.toByte, s"ccsid $id")
    // national-variant pages differ on currency/bracket code points
    val germanAt = Ccsid.decode(Array(0x7C.toByte), 273) // cp273: 0x7C = §
    val usAt = Ccsid.decode(Array(0x7C.toByte), 37) // cp037: 0x7C = @
    assert(usAt == "@" && germanAt != usAt)
    assert(!Ccsid.supported(9999))
    intercept[IllegalArgumentException](Ccsid.charset(9999))
  }
}
