package graft

import org.apache.spark.sql.functions._

/** Guards the SparkEntry corpus: every query runs and returns rows on the
  * smoke SF, plus spot value checks. DuckDB-parity is the driver's gate
  * (tools/compare_oracle.py locally). */
class QueriesSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("oracle SQL exists for every SQL-expressible query; names line up") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle without query: ${os.diff(qs)}")
    val rowsOnly = qs.diff(os)
    assert(rowsOnly.isEmpty, s"unexpected rows-only queries: $rowsOnly")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs and returns rows") {
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("entry() (flagship CDC replay) returns live pages") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("text_fp"))
  }

  test("fixed-path oracle fixtures are rebuilt when the engine build changes") {
    import java.nio.file.{Files, Paths}
    import graft.queries.SystemQueries.{buildFingerprint, cachedFixture}
    val root = Paths.get(tmpDir("fixture"), "f")
    var builds = 0
    def build(spec: String, engine: String): Unit = cachedFixture(root, spec, engine) {
      builds += 1
      Files.write(root.resolve(s"b$builds"), Array.emptyByteArray)
    }
    build("spec", "e1")
    build("spec", "e1")
    assert(builds == 1, "the same spec and engine build reuse the fixture")
    build("spec", "e2")
    assert(builds == 2, "a new engine build rebuilds it")
    assert(!Files.exists(root.resolve("b1")), "a rebuild starts from an empty dir")
    build("spec2", "e2")
    assert(builds == 3, "a new spec rebuilds it")
    // the fingerprint follows the bytes of the class files under graft/
    val classes = Paths.get(tmpDir("classes"))
    val cls = Files.createDirectories(classes.resolve("graft/lake")).resolve("A.class")
    Files.write(cls, Array[Byte](1))
    val before = buildFingerprint(classes)
    assert(buildFingerprint(classes) == before)
    Files.write(classes.resolve("other.txt"), Array[Byte](1))
    assert(buildFingerprint(classes) == before, "only graft/ classes count")
    Files.write(cls, Array[Byte](2))
    assert(buildFingerprint(classes) != before)
    assert(graft.queries.SystemQueries.EngineFingerprint.length == 32)
  }

  test("spot: cdc queries match an in-JVM mirror of their DuckDB oracle") {
    import org.apache.spark.sql.expressions.Window
    // the queries dump the generator's truth event stream to TruthDir; the
    // driver's DuckDB oracle re-folds final state from it — mirror that
    // fold here in Spark so the contract is test-gated too, not only
    // round-gated
    val gotState = SparkEntry.queries("cdc_replay_state")(spark, sf)
    val truth = spark.read.parquet(graft.queries.SystemQueries.TruthDir)
    val w = Window.partitionBy("url").orderBy(col("warc_ts").desc, col("seq").desc)
    val winners = truth.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val expState = winners.filter(col("op") =!= "D")
      .select(col("url"), col("warc_ts"), col("lang"),
        md5(col("text").cast("binary")).as("text_fp"),
        col("fetch_status"), col("content_len"))
    assert(gotState.exceptAll(expState).isEmpty && expState.exceptAll(gotState).isEmpty,
      "cdc_replay_state diverges from the truth-stream LWW fold")

    val gotDomains = SparkEntry.queries("cdc_domain_stats")(spark, sf)
    val expDomains = winners.filter(col("op") =!= "D")
      .groupBy(element_at(split(col("url"), "/"), 3).as("host"))
      .agg(count(lit(1)).as("n_pages"), sum(col("content_len")).as("total_bytes"),
        max(col("warc_ts")).as("last_crawl"))
    assert(gotDomains.exceptAll(expDomains).isEmpty &&
      expDomains.exceptAll(gotDomains).isEmpty,
      "cdc_domain_stats diverges from the truth-stream per-host fold")

    val gotLineage = SparkEntry.queries("cdc_lineage")(spark, sf)
    val expLineage = winners.groupBy("bucket")
      .agg(count(lit(1)).as("file_rows"),
        sum(when(col("op") =!= "D", 1L).otherwise(0L)).as("live_rows"))
    assert(gotLineage.exceptAll(expLineage).isEmpty &&
      expLineage.exceptAll(gotLineage).isEmpty,
      "cdc_lineage diverges from the truth-stream per-bucket fold")
  }

  test("spot: q06 orphan count is zero (testdata FKs are consistent)") {
    val n = SparkEntry.queries("q06_left_anti_orphans")(spark, sf)
      .head.getLong(0)
    assert(n == 0L)
  }

  test("spot: q08 and q09 (salted path) agree row-for-row") {
    val a = SparkEntry.queries("q08_window_lww")(spark, sf)
    val b = SparkEntry.queries("q09_salted_lww")(spark, sf)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("spot: dd_exact keeps one row per distinct text") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val expected = d.select(countDistinct(col("text"))).head.getLong(0)
    assert(SparkEntry.queries("dd_exact")(spark, sf).count() == expected)
  }

  test("spot: dd_para_dedup matches an in-JVM keep-first mirror and dedups for real") {
    // independent oracle: serial fold over the whole corpus — chunk each
    // doc into the same 10-token paragraphs, keep only each paragraph's
    // global first occurrence by (doc_id, idx), rebuild the fingerprint
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val paras = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        r.getString(1).split(" ").grouped(10).zipWithIndex.map {
          case (chunk, i) => (r.getLong(0), i.toLong, chunk.mkString(" "))
        }
      }
    val firstKey = paras.groupBy(_._3)
      .map { case (p, g) => p -> g.map(t => t._1 * 1000000L + t._2).min }
    val mirror = paras.groupBy(_._1).map { case (id, g) =>
      val kept = g.filter(t => firstKey(t._3) == t._1 * 1000000L + t._2)
        .sortBy(_._2)
      id -> ((g.length.toLong, kept.length.toLong,
        md5hex(kept.map(_._3).mkString(" "))))
    }
    val got = SparkEntry.queries("dd_para_dedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got.keySet == mirror.keySet, "must cover every doc exactly once")
    mirror.foreach { case (id, exp) =>
      assert(got(id) == exp, s"doc $id diverges from the serial mirror") }
    val dropped = mirror.values.map(v => v._1 - v._2).sum
    assert(dropped > 0, "corpus must contain real cross-doc duplicate paragraphs")
  }

  test("spot: dd_substring_dedup matches a serial sliding-window mirror") {
    // independent oracle: serial fold — hash every 15-token window, mark
    // windows occurring >= 2 times anywhere, per doc count hits and the
    // union of covered 1-based token positions
    val K = 15
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val wins = docs.flatMap { case (id, ts) =>
      if (ts.length >= K)
        (0 to ts.length - K).map(i => (id, i + 1, md5hex(ts.slice(i, i + K).mkString(" "))))
      else Nil
    }
    val cnt = wins.groupBy(_._3).map { case (h, g) => h -> g.size }
    val hits = wins.filter(w => cnt(w._3) >= 2).groupBy(_._1)
    val mirror = docs.map { case (id, ts) =>
      val h = hits.getOrElse(id, Array.empty[(Long, Int, String)])
      id -> ((ts.length.toLong, h.length.toLong,
        h.flatMap(w => w._2 until w._2 + K).distinct.length.toLong))
    }.toMap
    val got = SparkEntry.queries("dd_substring_dedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == mirror.keySet, "must cover every doc exactly once")
    mirror.foreach { case (id, exp) =>
      assert(got(id) == exp, s"doc $id diverges from the serial mirror") }
    assert(mirror.values.map(_._2).sum > 0,
      "corpus must contain real repeated 15-token windows")
  }

  test("spot: dd_url_canon folds real variants and leaves no mess in the canonical form") {
    val got = SparkEntry.queries("dd_url_canon")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(got.map(_._3).sum == n, "groups must cover every doc exactly once")
    assert(got.exists(_._4 > 1), "canonicalization must fold distinct raw variants")
    got.foreach { case (u, keeper, nv, nr) =>
      assert(u == u.toLowerCase, s"canonical url must be lowercase: $u")
      assert(!u.contains("#") && !u.contains("utm_") && !u.contains(":80") &&
        !u.contains(":443") && !u.contains("www."), s"residual mess in $u")
      assert(nv >= nr && keeper >= 0)
      // params sorted: query part must be a=1&b=2 for this construction
      assert(u.endsWith("?a=1&b=2"), s"params must be sorted and cleaned: $u")
    }
  }

  test("spot: ta_split_assign is deterministic, total, and ~90/5/5") {
    val a = SparkEntry.queries("ta_split_assign")(spark, sf)
    val b = SparkEntry.queries("ta_split_assign")(spark, sf)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "split assignment is not deterministic across runs")
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    val byS = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS.values.sum == n, "split must cover every doc exactly once")
    // e6/256≈0.898, (f3-e6)/256≈0.051 — wide tolerance for 500-doc jitter
    assert(byS("train").toDouble / n > 0.8 && byS("train").toDouble / n < 0.95)
    assert(byS.getOrElse("val", 0L) > 0 && byS.getOrElse("test", 0L) > 0)
  }

  test("spot: ta_seq_pack matches a serial concatenate-and-chunk pack exactly") {
    val got = SparkEntry.queries("ta_seq_pack")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // independent serial oracle: walk docs in doc_id order carrying the
    // running token count — the hierarchical two-level prefix sum must
    // reproduce this exactly, block boundaries invisible
    var prefix = 0L
    got.foreach { case (id, n, bin, off) =>
      assert(bin == prefix / 512 && off == prefix % 512,
        s"doc $id: got (bin=$bin, off=$off), serial pack says " +
          s"(${prefix / 512}, ${prefix % 512})")
      assert(off >= 0 && off < 512)
      prefix += n
    }
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(got.length == n, "every doc must be packed exactly once")
    assert(got.last._3 > 0, "a 500-doc corpus must span multiple bins")
  }

  test("spot: ta_mix_rebalance thins over-represented langs toward uniform, deterministically") {
    val got = SparkEntry.queries("ta_mix_rebalance")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(got.length == n, "every doc must get a keep decision")
    val rateByLang = got.map(t => t._2 -> t._3).distinct.toMap
    assert(rateByLang.size == got.map(_._2).distinct.length,
      "rate must be a pure function of lang")
    // en dominates the corpus (≈40% of docs, uniform target is 20%):
    // its keep rate must be a real downsample; the rarest lang must be
    // kept whole (downsample-only contract, rate capped at 1)
    assert(rateByLang("en") < 1000000L, s"en must thin: $rateByLang")
    assert(rateByLang.values.max == 1000000L,
      s"rarest lang must keep everything: $rateByLang")
    got.foreach { case (id, lang, rate, keep) =>
      assert(rate >= 1L && rate <= 1000000L)
      // keep must be re-derivable from doc_id alone (auditability)
      val h = BigInt(org.apache.commons.codec.digest.DigestUtils.md5Hex(
        s"$id:mix").substring(0, 15), 16).toLong % 1000000L
      assert(keep == (h < rate), s"doc $id/$lang: keep not hash-derived")
    }
  }

  test("spot: dd_decontaminate flags exactly the train docs sharing a 13-gram with held-out") {
    // independent oracle: brute-force distinct-shingle intersection per doc
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    def shingles(heldOut: Boolean) = docs
      .filter(if (heldOut) col("doc_id") % 50 === 0 else col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(
        when(size(col("ts")) >= 13,
          transform(sequence(lit(1), size(col("ts")) - 12),
            i => concat_ws(" ", slice(col("ts"), i, lit(13)))))
          .otherwise(array().cast("array<string>"))).as("sh"))
    val expectedHits = shingles(heldOut = false)
      .join(shingles(heldOut = true).select("sh").distinct(), Seq("sh"), "left_semi")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val got = SparkEntry.queries("dd_decontaminate")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val trainIds = docs.filter(col("doc_id") % 50 =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.keySet == trainIds, "output must cover exactly the train docs")
    assert(got.filter(_._2).keySet == expectedHits,
      "contamination flags diverge from the brute-force shingle oracle")
  }

  test("spot: ta_pmi_cooccur matches a driver-side serial recomputation") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(split(col("text"), " ").as("ts"))
      .collect().map(_.getSeq[String](0))
    val nTok = toks.map(_.size.toLong).sum
    val uni = toks.flatten.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val big = toks.flatMap(ts => ts.zip(ts.drop(1))).groupBy(identity)
      .map { case (p, g) => p -> g.size.toLong }.filter(_._2 >= 5)
    val expected = big.map { case ((a, b), cab) =>
      val pmi = math.round(math.log((cab.toDouble * nTok.toDouble) /
        (uni(a).toDouble * uni(b).toDouble)) * 1e6)
      (a, b, cab, pmi)
    }.toSeq.sortBy { case (a, b, _, p) => (-p, a, b) }.take(100).toSet
    val got = SparkEntry.queries("ta_pmi_cooccur")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty, "pmi candidates must survive the support floor at the smoke SF")
    assert(got == expected, "pmi top-100 diverges from the serial mirror")
  }

  test("spot: ta_entropy matches a driver-side serial recomputation") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val expected = rows.map { case (id, ts) =>
      val n = ts.size.toLong
      val ent = ts.groupBy(identity).values.map { g =>
        val c = g.size.toLong
        c * math.round(math.log(n.toDouble / c.toDouble) * 1e6)
      }.sum
      (id, n, ent)
    }.toSet
    val got = SparkEntry.queries("ta_entropy")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, "entropy diverges from the serial mirror")
  }

  test("spot: ta_repetition matches an explode/groupBy mirror") {
    // independent plan: count words/2-grams/3-grams via explode + distinct
    // counts instead of per-row array arithmetic
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    def mirror(n: Int) = docs
      .select(col("doc_id"), explode(
        when(size(col("ts")) >= n,
          transform(sequence(lit(1), size(col("ts")) - (n - 1)),
            i => concat_ws(" ", slice(col("ts"), i, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("g"))
      .groupBy("doc_id")
      .agg((lit(1.0) - countDistinct(col("g")).cast("double") /
        count(lit(1)).cast("double")).as(s"f$n"))
    val exp = mirror(1)
      .join(mirror(2), Seq("doc_id"), "left").join(mirror(3), Seq("doc_id"), "left")
      .select(col("doc_id"), col("f1").as("dup_word_frac"),
        coalesce(col("f2"), lit(0.0)).as("dup_2gram_frac"),
        coalesce(col("f3"), lit(0.0)).as("dup_3gram_frac"))
    val got = SparkEntry.queries("ta_repetition")(spark, sf)
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
      "repetition fractions diverge from the explode/groupBy mirror")
  }

  test("spot: ta_lm_score matches a brute-force in-JVM bigram model") {
    // independent oracle: count bigrams in plain Scala over the collected
    // corpus, then recompute each doc's micro-unit log-prob sum
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val allBigrams = docs.values.toSeq.flatMap(ts => ts.zip(ts.drop(1)))
    val c2 = allBigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = allBigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def micro(bg: (String, String)): Long =
      math.round(math.log(c2(bg).toDouble / c1(bg._1).toDouble) * 1e6)
    val expected = docs.collect { case (id, ts) if ts.size >= 2 =>
      val bgs = ts.zip(ts.drop(1))
      (id, bgs.size.toLong, bgs.map(micro).sum)
    }.toSet
    val got = SparkEntry.queries("ta_lm_score")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, "LM scores diverge from the brute-force model")
    assert(got.forall(_._3 <= 0L), "log-probs must be non-positive")
  }

  test("spot: wg_pagerank matches a serial power-iteration mirror; hubs rank highest") {
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val n = ids.length.toLong
    val edges = ids.flatMap(i =>
      Seq((i * 7 + 3) % n, (i * 31 + 11) % n, (i % 50) % n)
        .filter(_ != i).map(d => (i, d))).distinct
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val inn = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val base = math.round(0.15 * 1e6 / n)
    var pr = ids.map(_ -> math.round(1e6 / n.toDouble)).toMap
    for (_ <- 1 to 10)
      pr = ids.map(v => v -> (base + inn.getOrElse(v, Array.empty[Long])
        .map(u => math.round(0.85 * pr(u) / deg(u))).sum)).toMap
    val got = SparkEntry.queries("wg_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == ids.toSet)
    ids.foreach { v =>
      assert(got(v) == ((pr(v), deg.getOrElse(v, 0L))),
        s"node $v diverges from the serial mirror") }
    // the id%50 link formula makes docs 0..49 hubs — they must outrank
    val (hubs, rest) = got.partition(_._1 < 50)
    assert(hubs.values.map(_._1).sum / hubs.size >
      3 * (rest.values.map(_._1).sum / rest.size),
      "hub nodes must clearly outrank non-hubs after 10 iterations")
  }

  test("spot: ta_dsir_weight matches a brute-force mirror and separates the target domain") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // serial mirror of the whole construction
    val words = docs.flatMap { case (id, lang, text) =>
      text.split(" ").map(w => (id, lang, w)) }
    val model = words.groupBy(_._3).view.mapValues { g =>
      (g.length.toLong, g.count(_._2 == "en").toLong)
    }.filter(_._2._1 >= 5).toMap
    val rt = model.values.map(_._1).sum.toDouble
    val tt = model.values.map(_._2).sum.toDouble
    val v = model.size.toDouble
    val lr = model.map { case (w, (cr, ct)) =>
      w -> math.round(math.log(((ct + 1.0) / (tt + v)) / (cr / rt)) * 1e6) }
    val expected = words.filter(t => lr.contains(t._3)).groupBy(_._1)
      .map { case (id, g) => id -> ((g.length.toLong, g.map(t => lr(t._3)).sum)) }
    val got = SparkEntry.queries("ta_dsir_weight")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id diverges from the serial mirror") }
    // the weight must actually separate the target domain: mean per-token
    // score of en docs above that of non-en docs
    val byLang = docs.map(d => (d._1, d._2)).toMap
    def meanPerTok(ids: Iterable[Long]): Double = {
      val xs = ids.flatMap(got.get)
      xs.map(_._2.toDouble).sum / math.max(1L, xs.map(_._1).sum)
    }
    val en = expected.keys.filter(byLang(_) == "en")
    val rest = expected.keys.filterNot(byLang(_) == "en")
    assert(meanPerTok(en) > meanPerTok(rest),
      "en docs must score higher under the en-target importance weight")
  }

  test("spot: ta_pii_redact counts are positive and the redacted text is clean") {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+".r
    val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}".r
    val rows = SparkEntry.queries("ta_pii_redact")(spark, sf).collect()
    assert(rows.nonEmpty &&
      rows.forall(r => r.getLong(1) >= 1L && r.getLong(2) >= 1L),
      "every doc carries at least the injected email + phone")
    // fingerprint equals md5 of an independently redacted reconstruction,
    // and that reconstruction contains no residual matches
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val withPii = docs(id) + " contact user" + id +
        "@mail.example.com or +1-555-" + f"${id % 10000}%04d" + " today"
      val redacted = phoneRe.replaceAllIn(
        emailRe.replaceAllIn(withPii, "<EMAIL>"), "<PHONE>")
      assert(emailRe.findFirstIn(redacted).isEmpty &&
        phoneRe.findFirstIn(redacted).isEmpty, s"residual PII in doc $id")
      val md = java.security.MessageDigest.getInstance("MD5")
      val fp = md.digest(redacted.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getString(3) == fp, s"fingerprint mismatch for doc $id")
    }
  }

  test("spot: dd_dup_clusters labels are component-consistent with the LSH pairs") {
    val pairs = SparkEntry.queries("dd_minhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val lbl = SparkEntry.queries("dd_dup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(lbl.keySet == nodes, "labels must cover exactly the paired docs")
    pairs.foreach { case (a, b) =>
      assert(lbl(a)._1 == lbl(b)._1, s"pair ($a,$b) split across clusters") }
    lbl.groupBy(_._2._1).foreach { case (rep, members) =>
      assert(members.keySet.min == rep, s"cluster $rep rep is not its min doc_id")
      assert(members(rep)._2 && members.count(_._2._2) == 1,
        s"cluster $rep must keep exactly its rep") }
  }

  test("spot: dd_incremental_lsh probes only the delta against the index") {
    val rows = SparkEntry.queries("dd_incremental_lsh")(spark, sf).collect()
    assert(rows.nonEmpty, "the synthetic corpus must yield cross-split candidates")
    rows.foreach { r =>
      val (nid, oid, agree, conf) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(nid % 5 == 0, s"new_id $nid is not in the delta split")
      assert(oid % 5 != 0, s"old_id $oid is not in the index split")
      // LSH candidacy guarantees at least one shared 2-hash band
      assert(agree >= 2 && agree <= 8, s"agree $agree out of band for ($nid,$oid)")
      assert(conf == (agree >= 4), s"confirmed flag inconsistent for ($nid,$oid)")
    }
    // every confirmed candidate must be a real LSH pair of the full-corpus
    // query too (the incremental path finds a subset, never an invention)
    val full = SparkEntry.queries("dd_minhash_pairs")(spark, sf).collect()
      .map(r => Set(r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      assert(full.contains(Set(r.getLong(0), r.getLong(1))),
        s"(${r.getLong(0)},${r.getLong(1)}) not found by the full-corpus LSH") }
  }

  test("spot: ta_index_search hits truly contain both terms with tf-sum scores") {
    val rows = SparkEntry.queries("ta_index_search")(spark, sf).collect()
    assert(rows.nonEmpty, "top-df term pairs must co-occur in some document")
    val pairs = rows.map(r => (r.getString(0), r.getString(1))).distinct
    assert(pairs.length <= 6, s"more than C(4,2) query pairs: ${pairs.length}")
    pairs.foreach { case (t1, t2) => assert(t1 < t2, s"pair ($t1,$t2) unordered") }
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    rows.foreach { r =>
      val (t1, t2, doc, score, rk) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4))
      val toks = texts(doc)
      val (c1, c2) = (toks.count(_ == t1).toLong, toks.count(_ == t2).toLong)
      assert(c1 > 0 && c2 > 0, s"doc $doc lacks a query term ($t1,$t2)")
      assert(score == c1 + c2, s"doc $doc score $score != tf sum ${c1 + c2}")
      assert(rk >= 1 && rk <= 5, s"rank $rk outside top-5 for doc $doc")
    }
    // ranks are dense and ordered by (score desc, doc_id) within each pair
    rows.groupBy(r => (r.getString(0), r.getString(1))).foreach { case (p, rs) =>
      val sorted = rs.sortBy(_.getInt(4))
      assert(sorted.map(_.getInt(4)).toSeq == (1 to rs.length),
        s"ranks not dense for $p")
      val keys = sorted.map(r => (-r.getLong(3), r.getLong(2))).toSeq
      assert(keys == keys.sorted, s"rank order violates (score desc, doc_id) for $p")
    }
  }

  test("spot: ta_bm25_search scores re-derive from raw text via the BM25 formula") {
    val rows = SparkEntry.queries("ta_bm25_search")(spark, sf).collect()
    assert(rows.nonEmpty, "top-df term queries must hit some document")
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val nDocs = texts.size.toLong
    val totalToks = texts.values.map(_.length.toLong).sum
    def df(term: String): Long = texts.values.count(_.contains(term)).toLong
    def bm25Micro(term: String, toks: Array[String]): Long = {
      val tf = toks.count(_ == term).toDouble
      if (tf == 0) 0L
      else {
        val d = df(term).toDouble
        val idfMicro = math.round(math.log(
          1.0 + (nDocs.toDouble - d + 0.5) / (d + 0.5)) * 1e6).toDouble
        val r = (toks.length.toLong * nDocs).toDouble / totalToks.toDouble
        math.round(idfMicro * 2.2 * tf / (tf + 0.3 + 0.9 * r))
      }
    }
    rows.foreach { r =>
      val (t1, t2, doc) = (r.getString(0), r.getString(1), r.getLong(2))
      val (score, hit, rk) = (r.getLong(3), r.getLong(4), r.getInt(5))
      val toks = texts(doc)
      val (c1, c2) = (toks.contains(t1), toks.contains(t2))
      assert(c1 || c2, s"doc $doc matches neither term of ($t1,$t2) — not OR")
      assert(hit == (if (c1) 1 else 0) + (if (c2) 1 else 0),
        s"terms_hit $hit wrong for doc $doc")
      val expect = bm25Micro(t1, toks) + bm25Micro(t2, toks)
      assert(score == expect, s"doc $doc score $score != recomputed $expect")
      assert(rk >= 1 && rk <= 5)
    }
    rows.groupBy(r => (r.getString(0), r.getString(1))).foreach { case (p, rs) =>
      val sorted = rs.sortBy(_.getInt(5))
      assert(sorted.map(_.getInt(5)).toSeq == (1 to rs.length), s"ranks not dense for $p")
      val keys = sorted.map(r => (-r.getLong(3), r.getLong(2))).toSeq
      assert(keys == keys.sorted, s"rank order violates (score desc, doc_id) for $p")
    }
  }

  test("spot: q25_hotkey_join covers every user exactly once, hot set non-empty at this SF") {
    val rows = SparkEntry.queries("q25_hotkey_join")(spark, sf).collect()
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the split is invisible: output covers every event-having user with
    // the full per-user event count (no row lost or doubled at the seam)
    val outCnt = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(outCnt == ev, "per-user event counts diverge from the raw fold")
    // the hotness rule fires at this SF (cnt·5·nKeys > 6·total)
    val (total, nKeys) = (ev.values.sum, ev.size.toLong)
    assert(ev.values.exists(c => c * 5 * nKeys > 6 * total),
      "no hot key at this SF — the broadcast path under test is empty")
  }

  test("spot: q26_gap_islands matches a serial fold; island ids dense per user") {
    val out = SparkEntry.queries("q26_gap_islands")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "event_id",
        "unix_micros(cast(ts as timestamp)) as us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = ev.groupBy(_._1).flatMap { case (u, rs) =>
      val sorted = rs.sortBy(r => (r._3, r._2))
      var island = 0L
      var prev = Long.MinValue
      val tagged = sorted.map { r =>
        if (prev == Long.MinValue || r._3 - prev > 86400000000L) island += 1
        prev = r._3
        (island, r._3)
      }
      tagged.groupBy(_._1).map { case (i, xs) =>
        (u, i, xs.map(_._2).min, xs.map(_._2).max, xs.length.toLong)
      }
    }.toSet
    assert(out == expected, "islands diverge from the serial gap fold")
    // multi-event islands exist at this SF — the lag path is exercised
    assert(out.exists(_._5 > 1), "no multi-event island at this SF")
  }

  test("spot: q27_range_self_join matches the serial pair count (bucketing invisible)") {
    val out = SparkEntry.queries("q27_range_self_join")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_id", "user_id",
        "unix_micros(cast(ts as timestamp)) as us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = ev.groupBy(_._2)
    val expected = ev.flatMap { a =>
      val n = byUser(a._2)
        .count(b => b._3 > a._3 && b._3 <= a._3 + 3600000000L)
      if (n > 0) Some(a._1 -> n.toLong) else None
    }.toMap
    assert(out == expected, "follower counts diverge from the serial scan")
    // cross-bucket pairs exist at this SF (anchor and follower in
    // different H-epochs) — the bk+1 probe leg is exercised
    val us = ev.map(r => r._1 -> r._3).toMap
    val crossBucket = ev.exists { a =>
      byUser(a._2).exists(b => b._3 > a._3 && b._3 <= a._3 + 3600000000L &&
        b._3 / 3600000000L != a._3 / 3600000000L)
    }
    assert(crossBucket, "no cross-bucket pair at this SF — probe leg untested")
    assert(us.size == ev.length)
  }

  test("spot: dd_kmeans_cluster matches a serial Lloyd mirror bit-for-bit") {
    val out = SparkEntry.queries("dd_kmeans_cluster")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> floor(cast(x as double) * 1000000.0 + 0.5)) as mv")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val k = graft.queries.PipelineQueries.KmeansK
    val iters = graft.queries.PipelineQueries.KmeansIters
    val stride = math.max(1L, vecs.size.toLong / k)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var cents: Map[Int, Array[Long]] = vecs.collect {
      case (id, v) if id % stride == 0 && id / stride < k =>
        (id / stride).toInt -> v
    }
    def assign(): Map[Long, (Long, Int)] = vecs.map { case (id, v) =>
      id -> cents.toSeq.map { case (c, cv) => (d2(v, cv), c) }.min
    }
    for (_ <- 1 to iters) {
      val a = assign()
      cents = a.toSeq.groupBy(_._2._2).map { case (c, xs) =>
        val members = xs.map(x => vecs(x._1))
        c -> Array.tabulate(members.head.length)(i =>
          Math.floorDiv(members.map(_(i)).sum, members.size.toLong))
      }
    }
    val expected = assign().map { case (id, (d, c)) => id -> ((c, d)) }
    assert(out == expected, "cluster assignment diverges from the serial mirror")
    // every vector assigned exactly once, all K clusters non-empty here
    assert(out.keySet == vecs.keySet)
    assert(out.values.map(_._1).toSet.size == k, s"fewer than $k clusters used")
  }

  test("spot: dd_semdedup = keep-first cosine dedup within dd_kmeans_cluster's clusters") {
    val q = SparkEntry.queries
    val asg = q("dd_kmeans_cluster")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = q("dd_semdedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(out.map(r => r._1 -> r._2).toMap == asg,
      "semdedup clusters diverge from the kmeans query")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val byCluster = asg.toSeq.groupBy(_._2)
    val expected = asg.map { case (id, c) =>
      id -> byCluster(c).exists { case (a, _) =>
        a < id && cos(vecs(a), vecs(id)) >=
          graft.queries.PipelineQueries.SemDedupTau
      }
    }
    assert(out.map(r => r._1 -> r._3).toMap == expected,
      "is_dup diverges from the serial keep-first cosine fold")
    // both branches live at this SF (τ sits inside the neighbor band)
    assert(out.count(_._3) > 0, "no duplicate flagged — τ too high here")
    assert(out.count(!_._3) > 0, "everything flagged — τ too low here")
  }

  test("spot: ann_filtered_topk stays inside the query's label stratum and the filter bites") {
    val q = SparkEntry.queries
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = q("ann_filtered_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    rows.foreach { case (qid, nid, _) =>
      assert(labels(nid) == labels(qid),
        s"neighbor $nid label ${labels(nid)} != query $qid label ${labels(qid)}")
    }
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length),
        s"ranks not dense for query $qid")
    }
    // the predicate actually changes the answer vs the unfiltered baseline
    val brute = q("ann_brute_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!rows.map(r => (r._1, r._2)).toSet.subsetOf(brute),
      "filtered top-5 equals unfiltered everywhere — the filter never bit")
  }

  test("spot: mm_frame_sample matches the generator arithmetic frame-for-frame") {
    import graft.multimodal.MediaPipeline.VideoCodec
    val rows = SparkEntry.queries("mm_frame_sample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5))).toSet
    val docIds = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    // independent path: the synthesizer's arithmetic, never the bytes —
    // the byte-walking parse chain must land exactly back on it
    val expected = docIds.flatMap { id =>
      val w = 4 + 2 * Math.floorMod(id, 4L).toInt
      val h = 4 + 2 * Math.floorMod(id * 3L, 4L).toInt
      val nf = 1 + Math.floorMod(id, 7L).toInt
      val fs = w * h * 3 / 2
      (0 until nf).filter(_ % VideoCodec.FrameSampleStep == 0).map { f =>
        val sum = (0 until fs).map(j =>
          Math.floorMod(id * 31L + f * 7L + j, 256L)).sum
        (id, w, h, nf, f, sum)
      }
    }.toSet
    assert(rows == expected, "sampled frames diverge from generator arithmetic")
    // multi-frame videos exist, so sampling skips frames somewhere
    assert(rows.exists(_._5 == 2),
      "no frame beyond index 0 sampled — the stride walk is untested")
  }

  test("spot: VideoCodec.sample is total on malformed payloads — empty, never a crash") {
    import graft.multimodal.MediaPipeline.{VideoCodec, VideoRecord}
    def bytes(s: String) = s.getBytes("US-ASCII")
    // dims whose product overflows Int (w*h*3 = 3e9) must not produce
    // negative strides / garbage offsets
    assert(VideoCodec.sample(VideoRecord(1,
      bytes("YUV4MPEG2 W50000 H20000 F25:1\nFRAME\n1234"))).isEmpty)
    // W token that does not fit an Int must not throw
    assert(VideoCodec.sample(VideoRecord(2,
      bytes("YUV4MPEG2 W99999999999 H2 F25:1\nFRAME\n"))).isEmpty)
    assert(VideoCodec.sample(VideoRecord(3, bytes("not a video at all"))).isEmpty)
    assert(VideoCodec.sample(VideoRecord(4, Array.emptyByteArray)).isEmpty)
    assert(VideoCodec.sample(VideoRecord(5,
      bytes("YUV4MPEG2 W4 H4 F25:1\nJUNK!!"))).isEmpty)
    // torn tail: frames before the tear still emit, nothing after
    val ok = VideoCodec.y4m(6, 4, 4, 3)
    val sampled = VideoCodec.sample(VideoRecord(6, ok.take(ok.length - 5)))
    assert(sampled.map(_.frame_idx) == Seq(0) && sampled.head.n_frames == 2,
      s"torn stream mis-walked: $sampled")
  }

  test("spot: ta_corpus_filter agrees with its sub-pipelines doc-by-doc") {
    val q = SparkEntry.queries
    val statuses = q("ta_corpus_filter")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val splits = q("ta_split_assign")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val quality = q("ta_quality")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("quality_ok"))).toMap
    val losers = q("dd_dup_clusters")(spark, sf).collect()
      .filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    val contam = q("dd_decontaminate")(spark, sf).collect()
      .filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    assert(statuses.keySet == quality.keySet, "filter must cover every doc")
    statuses.foreach { case (id, st) =>
      val expected =
        if (id % 50 == 0) "held_out"
        else if (splits(id) != "train") "not_train"
        else if (!quality(id)) "low_quality"
        else if (losers(id)) "duplicate"
        else if (contam(id)) "contaminated"
        else "kept"
      assert(st == expected, s"doc $id: got $st, sub-pipelines say $expected")
    }
  }

  test("spot: mm_media_features parses real png/jpeg/gif/wav headers") {
    import graft.multimodal.MediaPipeline.{MediaCodec, MediaRecord}
    val body = "hello media body, some padding bytes".getBytes("UTF-8")
    val png = MediaCodec.decode(MediaRecord(1, "image", MediaCodec.png(123, 77, body)))
    assert(png.format == "png" && png.width == 123 && png.height == 77 &&
      png.n_frames == 1)
    val jpg = MediaCodec.decode(MediaRecord(2, "image", MediaCodec.jpeg(640, 480, body)))
    assert(jpg.format == "jpeg" && jpg.width == 640 && jpg.height == 480)
    val gif = MediaCodec.decode(MediaRecord(3, "image", MediaCodec.gif(31, 19, body)))
    assert(gif.format == "gif" && gif.width == 31 && gif.height == 19)
    val wav = MediaCodec.decode(MediaRecord(4, "audio",
      MediaCodec.wav(2, 16000, new Array[Byte](64))))
    assert(wav.format == "wav" && wav.channels == 2 &&
      wav.sample_rate == 16000 && wav.n_frames == 16) // 64 B / (2ch * 2B)
    val blob = MediaCodec.decode(MediaRecord(5, "blob", body))
    assert(blob.format == "blob" && blob.n_bytes == body.length)
    // end-to-end over the fixture: all five formats present, and nothing
    // synthesized as a real format may fall back to the blob stub
    val got = SparkEntry.queries("mm_media_features")(spark, sf)
    val byFmt = got.groupBy("format").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("png", "jpeg", "gif", "wav", "blob").subsetOf(byFmt.keySet),
      s"formats seen: $byFmt")
    assert(got.filter(col("format") === "blob" && col("kind") =!= "blob")
      .count() == 0, "a synthesized header failed to parse")
  }

  test("strm_sessions: hot user owning 50% of events matches the window oracle") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // one user owns every second event — the group-state fold must handle a
    // batch slice of ~half the feed (primitive-array buffering, 8B/event)
    val dir = java.nio.file.Paths.get(tmpDir("sesshot"))
    val rnd = new scala.util.Random(7)
    var tSec = 1577836800L
    val rows = (0 until 20000).map { i =>
      val uid = if (i % 2 == 0) 1L else 2L + rnd.nextInt(50)
      // mostly minutes-apart, with occasional >6h jumps that close sessions
      tSec += (if (rnd.nextInt(200) == 0) 8L * 3600 else 60L + rnd.nextInt(600))
      (uid, new java.sql.Timestamp(tSec * 1000 + rnd.nextInt(1000)), i.toLong)
    }
    rows.toDF("user_id", "ts", "event_id")
      .write.parquet(dir.resolve("events.parquet").toString)
    val got = SparkEntry.queries("strm_sessions")(spark, dir.toString)
    // mirror of the DuckDB oracle: lag/sum window sessionization, dropping
    // each user's open (last) session
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = ev
      .withColumn("pts", lag("ts", 1).over(w))
      .withColumn("brk", when(col("pts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("pts")) > 21600000000L, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
    val expected = sess
      .join(sess.groupBy("user_id").agg(max("sid").as("msid")), "user_id")
      .filter(col("sid") < col("msid"))
      .select("user_id", "session_start", "session_end", "n_events")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "sessionization diverges from the window oracle on a hot-key feed")
  }

  test("spot: ANN tiers hold their recall/scan contracts at sf0.01") {
    // sf0.01 (500 vectors) — measured this round: IVF 0.72 recall at ~9%
    // scan, LSH 0.24 at ~8%; floors are set with slack below those points
    // so a regression to round-2 behavior (first-16 centroid leak, raw-dim
    // sign buckets at 0.10 recall) fails, normal jitter does not.
    val d = "/root/testdata/sf0.01"
    def pairs(q: String): Set[(Long, Long)] =
      SparkEntry.queries(q)(spark, d).select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs("ann_brute_topk")
    val nVec = spark.read.parquet(s"$d/embeddings.parquet").count()
    val denom = 10.0 * (nVec - 1)
    val ivfRecall = pairs("ann_ivf_topk").intersect(brute).size.toDouble / brute.size
    val hiRecall = pairs("ann_ivf_hi").intersect(brute).size.toDouble / brute.size
    val lshRecall = pairs("ann_lsh_topk").intersect(brute).size.toDouble / brute.size
    val ivfScan = graft.queries.PipelineQueries.annIvfCandidates(spark, d).count() / denom
    val hiScan = graft.queries.PipelineQueries.annIvfHiCandidates(spark, d).count() / denom
    val lshScan = graft.queries.PipelineQueries.annLshCandidates(spark, d).count() / denom
    assert(ivfRecall >= 0.6, s"ivf recall@5 regressed: $ivfRecall")
    assert(ivfScan <= 0.15, s"ivf scan fraction too high: $ivfScan")
    // hi tier: measured 0.88 at ~19% scan (sf0.01); floors with slack.
    // More probes see a SUPERSET of the 10%-tier candidates, so its recall
    // can never fall below the base tier's — assert that invariant too.
    assert(hiRecall >= 0.8, s"ivf_hi recall@5 regressed: $hiRecall")
    assert(hiRecall >= ivfRecall, s"ivf_hi ($hiRecall) below base tier ($ivfRecall)")
    assert(hiScan <= 0.3, s"ivf_hi scan fraction too high: $hiScan")
    assert(lshRecall >= 0.1, s"lsh recall@5 regressed: $lshRecall")
    assert(lshScan <= 0.15, s"lsh scan fraction too high: $lshScan")
    // PQ/ADC tier: measured 0.44 at exactly 5% exact scan on sf0.01's 500
    // vectors (8×15 codebooks are starved at this N — the same code
    // measures 0.90 at sf0.1's 2000 vectors, pinned in BENCH.md); floor
    // with slack, and the exact-rerank budget is C/(N-1) by construction.
    val pqRecall = pairs("ann_pq_topk").intersect(brute).size.toDouble / brute.size
    val pqScan = graft.queries.PipelineQueries.annPqCandidates(spark, d).count() / denom
    assert(pqRecall >= 0.35, s"pq recall@5 regressed: $pqRecall")
    assert(pqScan <= 0.06, s"pq exact-scan fraction too high: $pqScan")
    // IVFADC composition: measured 0.46 at sf0.01 (PQ-code-starved like
    // the pq tier at N=500; 0.90 at sf0.1, = the full-ADC pq tier at HALF
    // the compressed scan — pinned in BENCH.md). Exact-rerank budget is
    // the pq tier's C, and its candidates are a subset of the probed
    // cells, so the exact-scan fraction can only be ≤ the pq tier's.
    val ivfpqRecall = pairs("ann_ivfpq_topk").intersect(brute).size.toDouble / brute.size
    val ivfpqScan = graft.queries.PipelineQueries.annIvfPqCandidates(spark, d).count() / denom
    assert(ivfpqRecall >= 0.35, s"ivfpq recall@5 regressed: $ivfpqRecall")
    assert(ivfpqScan <= 0.06, s"ivfpq exact-scan fraction too high: $ivfpqScan")
  }

  test("spot: strm_watermark_drops matches the lag-2 watermark fold and drops are real") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val got = SparkEntry.queries("strm_watermark_drops")(spark, sf)
    // in-JVM mirror of the DuckDB oracle: batch = event_id % 4; operative
    // drop watermark in batch b = ms-floored max event time of batches
    // <= b-2 minus the 2h delay; emission cut = global max - 2h
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"),
        col("value"), pmod(col("event_id"), lit(4)).cast("int").as("b"))
      .withColumn("wend", date_trunc("HOUR", col("ts")) + expr("INTERVAL 1 HOUR"))
    val lagW = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -2)
    val wm = ev.groupBy("b").agg(max(col("ts")).as("bmax"))
      .withColumn("wm",
        date_trunc("MILLISECOND", max(col("bmax")).over(lagW)) - expr("INTERVAL 2 HOUR"))
      .select("b", "wm")
    val wmFinal = ev.agg(
      (date_trunc("MILLISECOND", max(col("ts"))) - expr("INTERVAL 2 HOUR")).as("f"))
      .head.getTimestamp(0)
    val kept = ev.join(wm, Seq("b"))
      .filter(col("wm").isNull || col("wend") > col("wm"))
    def fold(rows: org.apache.spark.sql.DataFrame) = rows
      .filter(col("wend") <= lit(wmFinal))
      .groupBy(date_trunc("HOUR", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
    val exp = fold(kept)
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
      "strm_watermark_drops diverges from the lag-2 watermark fold")
    // lateness must actually bite: the undropped fold has strictly more
    // (window, type) rows — otherwise this query degenerates to strm_hourly
    assert(got.count() < fold(ev).count(),
      "no late rows were dropped — the interleaved staging is not late")
  }

  test("spot: strm_stream_join matches cross micro-batches in both directions") {
    val got = SparkEntry.queries("strm_stream_join")(spark, sf)
    // sides were staged by event-id parity, so parity(p) != parity(c) means
    // the pair's halves arrived in DIFFERENT micro-batches — the join had
    // to buffer one side in state until the partner showed up
    val pLate = got.filter(pmod(col("purchase_id"), lit(2)) === 1 &&
      pmod(col("click_id"), lit(2)) === 0).count()
    val cLate = got.filter(pmod(col("purchase_id"), lit(2)) === 0 &&
      pmod(col("click_id"), lit(2)) === 1).count()
    assert(pLate > 0, "no purchase-after-click cross-batch match — state unexercised")
    assert(cLate > 0, "no click-after-purchase cross-batch match — state unexercised")
    // complete and exactly-once: equals the batch relational range join
    val src = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"))
    val p = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val c = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        col("ts").as("click_ts"))
    val exp = p.join(c, col("user_id") === col("cu") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 24 HOURS") &&
        col("click_ts") <= col("purchase_ts"))
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
      "stream-stream join diverges from the batch range join")
  }

  test("spot: strm_dedup drops real cross-batch redeliveries, loses nothing") {
    val got = SparkEntry.queries("strm_dedup")(spark, sf)
    val src = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
    val n = src.count()
    // the staging really redelivered rows: batches 1 and 2 add ~1/7 + ~1/13
    val redelivered =
      src.filter(pmod(col("event_id"), lit(7)) === 0).count() +
        src.filter(pmod(col("event_id"), lit(13)) === 0).count()
    assert(redelivered > n / 10, s"staging delivered too few duplicates: $redelivered")
    // exactly-once: output = source verbatim, no duplicate survives
    assert(got.count() == n)
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
      "deduped stream diverges from the distinct source")
  }

  test("spot: cdc_incr_mview incremental fold equals a full recompute of the truth") {
    import org.apache.spark.sql.expressions.Window
    val got = SparkEntry.queries("cdc_incr_mview")(spark, sf)
    // full recompute straight off the truth stream the query dumped —
    // independent of the lake's delta path the query actually took
    val w = Window.partitionBy("url").orderBy(col("warc_ts").desc, col("seq").desc)
    val exp = spark.read.parquet(graft.queries.SystemQueries.TruthDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .groupBy(element_at(split(col("url"), "/"), 3).as("host"))
      .agg(count(lit(1)).as("n_pages"),
        sum(coalesce(col("content_len"), lit(0L))).as("total_bytes"))
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
      "incrementally maintained MV diverges from the full recompute")
  }

  test("spot: cdc_scd2 intervals are consistent and close over the replay state") {
    import org.apache.spark.sql.expressions.Window
    val scd = SparkEntry.queries("cdc_scd2")(spark, sf).cache()
    try {
      // intervals per url are chained: each version's valid_to (when set)
      // is a later-or-equal instant than its valid_from, and versions
      // ordered by (valid_from, version_seq) never overlap going forward
      val w = Window.partitionBy("url").orderBy(col("valid_from"), col("version_seq"))
      val bad = scd
        .withColumn("next_from", lead(col("valid_from"), 1).over(w))
        .filter((col("valid_to").isNotNull && col("valid_to") < col("valid_from")) ||
          (col("next_from").isNotNull && col("next_from") < col("valid_from")))
        .count()
      assert(bad == 0L, s"$bad SCD2 intervals are inverted or overlap")

      // exactly the LIVE urls (cdc_replay_state) have one current version,
      // and that version's fingerprint equals the replayed live state's
      val cur = scd.filter(col("is_current"))
      val dupCur = cur.groupBy("url").count().filter(col("count") > 1).count()
      assert(dupCur == 0L, s"$dupCur urls have more than one current version")
      val live = SparkEntry.queries("cdc_replay_state")(spark, sf)
        .select(col("url"), col("warc_ts"), col("text_fp"))
      val curP = cur.select(col("url"), col("valid_from").as("warc_ts"),
        col("text_fp"))
      assert(curP.exceptAll(live).isEmpty && live.exceptAll(curP).isEmpty,
        "current SCD2 versions diverge from the replayed live state")
    } finally scd.unpersist()
  }

  test("spot: cdc_asof_state at the final probe equals the prefix LWW fold") {
    import org.apache.spark.sql.expressions.Window
    val asof = SparkEntry.queries("cdc_asof_state")(spark, sf).cache()
    try {
      // every (url × probe_ts) pair is present exactly once
      val truth = spark.read.parquet(graft.queries.SystemQueries.TruthDir)
      val nUrls = truth.select("url").distinct().count()
      // probe count derived from the stream, not hard-coded: a probe seq
      // could in principle be absent (the feed's at-least-once duplicates
      // re-emit the PRIOR event verbatim, skipping a seq value)
      val nProbes = truth.filter(col("seq").isin(999L, 1999L, 2999L))
        .select("warc_ts").distinct().count()
      val probeTs = asof.select("probe_ts").distinct()
        .collect().map(_.getTimestamp(0)).sorted
      assert(nProbes > 0 && probeTs.length == nProbes &&
        asof.count() == nUrls * nProbes,
        "asof output must be the full probe grid")

      // at each probe: independent oracle = LWW fold of the truth stream
      // restricted to warc_ts <= probe (exactly the time-travel contract,
      // here at an arbitrary instant instead of a commit boundary)
      val w = Window.partitionBy("url").orderBy(col("warc_ts").desc, col("seq").desc)
      probeTs.foreach { p =>
        val exp = truth.filter(col("warc_ts") <= lit(p))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .filter(col("op") =!= "D")
          .select(col("url"), col("seq").as("state_seq"),
            md5(col("text").cast("binary")).as("text_fp"))
        val got = asof.filter(col("probe_ts") === lit(p) &&
            col("state_seq").isNotNull)
          .select(col("url"), col("state_seq"), col("text_fp"))
        assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
          s"asof state at $p diverges from the prefix LWW fold")
      }
    } finally asof.unpersist()
  }
}
