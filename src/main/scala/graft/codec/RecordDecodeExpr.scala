package graft.codec

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst `Expression` record decode — the one justified Catalyst
  * extension named by SURVEY.md §4: `decode_record(binary)` turns a raw WAL
  * record into a typed struct INSIDE whole-stage codegen. Against the typed
  * `Dataset.map` decoder it skips the Scala-iterator boundary, the
  * `ChangeEvent` object, the Option boxing and the round-trip through the
  * product Encoder: the generated code calls one static method that writes
  * an `InternalRow` directly (micros longs for the timestamp, `UTF8String`
  * via a precomputed EBCDIC→UTF-8 table, zero-copy wrap of the UTF-8 text
  * bytes). Register with [[RecordDecodeExpr.register]], then
  * `expr("decode_record(rec)")`.
  */
case class RecordDecodeExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"decode_record expects BINARY input, got ${child.dataType.simpleString}")
  override def dataType: DataType = RecordDecodeExpr.structType
  override def prettyName: String = "decode_record"

  override def nullSafeEval(input: Any): Any =
    RecordDecodeExpr.decodeRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.codec.RecordDecodeExpr.decodeRow($c)")

  override protected def withNewChildInternal(newChild: Expression): RecordDecodeExpr =
    copy(child = newChild)
}

object RecordDecodeExpr {

  /** Struct produced per record (lake column names; timestamp in micros). */
  val structType: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = false),
    StructField("schema_version", IntegerType, nullable = false),
    StructField("fetch_status", IntegerType, nullable = true),
    StructField("content_len", LongType, nullable = true)))

  /** Per-byte EBCDIC cp037 → UTF-8 bytes table (built once from the JVM
    * charset — single-byte codepage, so 256 entries cover everything). */
  private val Utf8Table: Array[Array[Byte]] = {
    val cs = graft.codec.Ccsid.charset(37)
    (0 until 256).map { b =>
      new String(Array(b.toByte), cs).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }.toArray
  }

  private def ebcdicUtf8(bytes: Array[Byte], off: Int, len: Int): UTF8String = {
    var total = 0
    var i = 0
    while (i < len) { total += Utf8Table(bytes(off + i) & 0xff).length; i += 1 }
    val out = new Array[Byte](total)
    var o = 0
    i = 0
    while (i < len) {
      val t = Utf8Table(bytes(off + i) & 0xff)
      System.arraycopy(t, 0, out, o, t.length)
      o += t.length
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  private val OpI = UTF8String.fromString("I")
  private val OpU = UTF8String.fromString("U")
  private val OpD = UTF8String.fromString("D")

  /** Static decode used by both eval and the generated code. Layout per
    * RecordCodec's record format (big-endian, EBCDIC url/lang, UTF-8 text,
    * zoned/packed v2 tail). */
  def decodeRow(rec: Array[Byte]): InternalRow = {
    val buf = java.nio.ByteBuffer.wrap(rec)
    val sv = buf.get().toInt
    require(sv == RecordCodec.SchemaV1 || sv == RecordCodec.SchemaV2,
      s"unsupported schema version $sv")
    val op = buf.get().toChar match {
      case 'I' => OpI
      case 'U' => OpU
      case 'D' => OpD
      case c   => UTF8String.fromString(c.toString)
    }
    val seq = buf.getLong()
    val tsMicros = buf.getLong()
    val urlLen = buf.getShort() & 0xffff
    val url = ebcdicUtf8(rec, buf.position(), urlLen)
    buf.position(buf.position() + urlLen)
    val langRaw = ebcdicUtf8(rec, buf.position(), 2).toString.trim
    buf.position(buf.position() + 2)
    val textLen = buf.getInt()
    val text =
      if (textLen < 0) null
      else {
        // zero-copy wrap: the record buffer is immutable after decode
        val s = UTF8String.fromBytes(rec, buf.position(), textLen)
        buf.position(buf.position() + textLen)
        s
      }
    val htmlLen = buf.getInt()
    val html =
      if (htmlLen < 0) null
      else {
        val a = new Array[Byte](htmlLen)
        buf.get(a)
        a
      }
    var fetchStatus: Any = null
    var contentLen: Any = null
    if (sv >= RecordCodec.SchemaV2) {
      val zoned = new Array[Byte](3); buf.get(zoned)
      fetchStatus = MainframeNum.decodeZoned(zoned, 0).intValueExact()
      val packed = new Array[Byte](MainframeNum.packedStorageBytes(11)); buf.get(packed)
      contentLen = MainframeNum.decodePacked(packed, 0).longValueExact()
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](op, seq, url, tsMicros, html, text,
        UTF8String.fromString(langRaw), sv, fetchStatus, contentLen))
  }

  /** Register `decode_record` in the session's function registry unless
    * it is already there (ingest calls this on every trickle commit). The
    * builder rejects any argument count other than 1 with an analysis
    * error. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("decode_record")))
      registry.createOrReplaceTempFunction("decode_record", {
        case Seq(rec) => RecordDecodeExpr(rec)
        case exprs => throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> "`decode_record`", "expectedNum" -> "1",
            "actualNum" -> exprs.size.toString,
            "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
      }, "scala_udf")
  }
}
