package graft

import org.apache.spark.sql.functions._

import graft.codec.{RecordCodec, RecordDecodeExpr}
import graft.feed.{FeedGen, FeedSpec}

/** The native Catalyst decode expression must agree byte-for-byte with the
  * typed Dataset.map decoder and stay inside whole-stage codegen. */
class RecordDecodeExprSpec extends SparkTestBase {

  private val spec = FeedSpec(seed = 73L, numEvents = 2000, numUrls = 300,
    eventsPerSegment = 500, evolveAtEvent = 1000)

  test("decode_record equals the typed decoder on every event (v1 + v2)") {
    import spark.implicits._
    RecordDecodeExpr.register(spark)
    val recs = FeedGen.events(spec).map(RecordCodec.encode).toSeq
    val viaExpr = recs.toDF("rec")
      .select(expr("decode_record(rec)").as("e"))
      .select("e.*")
    val viaTyped = spark.createDataset(FeedGen.events(spec).toSeq).toDF()
      .withColumnRenamed("warcTs", "warc_ts")
      .withColumnRenamed("schemaVersion", "schema_version")
      .select(viaExpr.columns.map(col).toSeq: _*)
    // nullability flattens when extracting from a nullable struct — compare
    // names and data types (value equality is asserted below anyway)
    assert(viaExpr.schema.map(f => (f.name, f.dataType)) ==
      viaTyped.schema.map(f => (f.name, f.dataType)),
      s"schema mismatch:\n${viaExpr.schema}\n${viaTyped.schema}")
    assert(viaExpr.exceptAll(viaTyped).isEmpty && viaTyped.exceptAll(viaExpr).isEmpty)
    assert(viaExpr.count() == spec.numEvents)
  }

  test("decode_record runs inside WholeStageCodegen (no iterator boundary)") {
    import spark.implicits._
    RecordDecodeExpr.register(spark)
    // a local relation would be constant-folded by ConvertToLocalRelation —
    // round-trip through parquet so a real scan + projection plan exists
    val dir = tmpDir("dexpr")
    FeedGen.events(spec).take(10).map(RecordCodec.encode).toSeq
      .toDF("rec").write.parquet(s"$dir/recs.parquet")
    val df = spark.read.parquet(s"$dir/recs.parquet")
      .select(expr("decode_record(rec)").as("e"))
      .filter(col("e.seq") >= 0)
    // "*(1)" marks operators fused into whole-stage-codegen stage 1 — the
    // Project AND the Filter both carry it, so decode_record runs inside
    // generated code with no iterator boundary
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("*(1) Filter"),
      s"decode_record not fused into a codegen stage:\n$plan")
    assert(!plan.contains("MapElements"), "no typed-map iterator boundary")
    assert(df.count() == 10)
  }

  test("decode_record registers once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    RecordDecodeExpr.register(spark)
    val registry = spark.sessionState.functionRegistry
    // every registration records a fresh ExpressionInfo
    val first = registry.lookupFunction(FunctionIdentifier("decode_record"))
    RecordDecodeExpr.register(spark)
    val second = registry.lookupFunction(FunctionIdentifier("decode_record"))
    assert(first.isDefined && first.get.eq(second.get),
      "a second register replaced the session's function")
  }

  test("decode_record rejects any argument count other than 1") {
    import spark.implicits._
    import org.apache.spark.sql.AnalysisException
    RecordDecodeExpr.register(spark)
    val df = Seq(Array[Byte](1)).toDF("rec")
    for (call <- Seq("decode_record()", "decode_record(rec, rec)")) {
      val e = intercept[AnalysisException](df.select(expr(call)))
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"$call: $e")
      assert(e.getMessage.contains("`decode_record` requires 1 parameters"), s"$call: $e")
    }
  }

  test("null and malformed input") {
    import spark.implicits._
    RecordDecodeExpr.register(spark)
    val df = Seq(Option.empty[Array[Byte]]).toDF("rec")
      .select(expr("decode_record(rec)").as("e"))
    assert(df.head().isNullAt(0), "null in -> null out")
    intercept[Exception] {
      Seq(Array[Byte](99, 0, 0)).toDF("rec")
        .select(expr("decode_record(rec)")).collect()
    }
  }
}
