package graft

import graft.operators.TextAnalysis

/** PII scrub unit coverage on PII-bearing text — the driver corpus has no
  * email/URL/phone strings, so these probes are the only place the match
  * branches are asserted against hand-computed expectations (the
  * correctness gate additionally unions the same probes into
  * `txt_pii_scrub`, see TextAnalysis.piiProbes).
  */
class TextAnalysisSpec extends SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private lazy val rows: Map[Long, (Long, Long, Long, String)] = {
    import spark.implicits._
    TextAnalysis.piiScrubDf(TextAnalysis.piiProbes.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
  }

  test("piiScrub counts emails, urls, phones on PII-bearing docs") {
    assert(rows(9000001L)._1 === 2L) // two emails
    assert(rows(9000002L)._2 === 2L) // two urls
    assert(rows(9000003L)._3 === 2L) // two phones
    assert((rows(9000001L)._2, rows(9000001L)._3) === ((0L, 0L)))
  }

  test("piiScrub email dot is literal, not a wildcard (round-3 regression)") {
    // bob@example,com / 12-345-6789 / ftp://x.y must all be non-matches;
    // with `\.` unescaped to `.` the comma would match and n_emails would be 1.
    assert(rows(9000004L) ===
      ((0L, 0L, 0L, md5hex("Not an email: bob@example,com plus 12-345-6789 plus ftp://x.y end"))))
  }

  test("piiScrub redaction output is byte-exact") {
    assert(rows(9000001L)._4 === md5hex("Contact <EMAIL> or <EMAIL> today"))
    assert(rows(9000002L)._4 === md5hex("See <URL> and <URL> for details"))
    assert(rows(9000003L)._4 === md5hex("Call <PHONE> or <PHONE> now"))
  }

  test("boilerplate scrub: clean docs survive byte-exact, dirty docs are cut") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val joined = TextAnalysis.boilerplateScrub(spark, sf)
      .join(TextAnalysis.boilerplate(spark, sf), "doc_id")
      .join(graft.core.Tables.load(spark, sf, "documents").select("doc_id", "text"), "doc_id")
      .select("doc_id", "n_boiler", "n_dropped", "clean_md5", "text")
      .collect()
    assert(joined.nonEmpty)
    // detect→scrub symmetry: a doc the detector calls clean must come out
    // of the scrub byte-identical (md5 of the untouched text)...
    val clean = joined.filter(_.getAs[Long]("n_boiler") == 0L)
    assert(clean.nonEmpty)
    clean.foreach { r =>
      assert(r.getAs[Long]("n_dropped") === 0L, s"doc ${r.getLong(0)} lost tokens")
      assert(r.getAs[String]("clean_md5") === md5hex(r.getAs[String]("text")),
        s"doc ${r.getLong(0)} not byte-exact after scrub")
    }
    // ...and the cut branch must actually fire on the fixture (non-vacuous)
    assert(joined.exists(_.getAs[Long]("n_dropped") > 0L))
  }

  test("BPE delimited-string encoding == greedy adjacent merge (property)") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    // reference semantics: one left-to-right pass, merge non-overlapping
    // adjacent (l, r) occurrences, no rescan of merged output (Sennrich
    // BPE's apply step)
    def greedy(syms: List[String], l: String, r: String): List[String] = {
      val out = List.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    // the engine encoding: every symbol wrapped |s|, merge = literal
    // leftmost-nonoverlapping replace (Java String.replace here; Spark's
    // StringReplace and DuckDB's replace scan identically — the oracle
    // hash match pins THAT equality, this pins the encoding's semantics)
    def viaString(word: String, merges: List[(String, String)]): List[String] = {
      val s0 = word.map(c => s"|$c|").mkString
      val sN = merges.foldLeft(s0) { case (s, (l, r)) =>
        s.replace(s"|$l||$r|", s"|$l$r|")
      }
      sN.stripPrefix("|").stripSuffix("|").split("\\|\\|").toList
    }
    // adversarial: 2-letter alphabet maximizes overlap runs (aaaa, abab);
    // merge list grows its own symbol set so later merges can consume
    // earlier ones (multi-char chaining)
    val word = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))
    val mergeCount = Gen.choose(1, 4)
    def genMerges(n: Int): Gen[List[(String, String)]] = {
      def step(acc: List[(String, String)], syms: Vector[String], k: Int): Gen[List[(String, String)]] =
        if (k == 0) Gen.const(acc.reverse)
        else for {
          l <- Gen.oneOf(syms)
          r <- Gen.oneOf(syms)
          rest <- step((l, r) :: acc, syms :+ (l + r), k - 1)
        } yield rest
      step(Nil, Vector("a", "b"), n)
    }
    val prop = Prop.forAll(word, mergeCount.flatMap(genMerges)) { (w, merges) =>
      val viaList = merges.foldLeft(w.toList.map(_.toString)) {
        case (syms, (l, r)) => greedy(syms, l, r)
      }
      viaString(w, merges) == viaList
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(5000), prop)
    assert(res.passed, s"BPE encoding falsified: ${res.status}")
  }

  test("standing-lake generations: publish commits by rename, resolve takes the max, sweeper retains N-1") {
    import spark.implicits._
    import TextAnalysis.StandingLake
    val root = java.nio.file.Files.createTempDirectory("graft-lake-spec")
    val lake = root.resolve("standing").toString
    def setOf(ts: (Long, String)*) = ts.toSeq.toDF("query_id", "token")
    def readIds(): Set[Long] =
      spark.read.parquet(StandingLake.resolve(spark, lake))
        .select("query_id").collect().map(_.getLong(0)).toSet
    def genDirs(): Set[String] = {
      val d = new java.io.File(lake)
      Option(d.listFiles()).toSeq.flatten.map(_.getName).filter(_.startsWith("g=")).toSet
    }
    try {
      intercept[RuntimeException](StandingLake.resolve(spark, lake))
      assert(StandingLake.publish(setOf(1L -> "a"), lake) === 0L)
      assert(readIds() === Set(1L))
      // a torn publish leaves a `.tmp-g-N` dir: resolve ignores it, the
      // next publish sweeps it
      setOf(9L -> "z").write.parquet(s"$lake/.tmp-g-5")
      assert(readIds() === Set(1L))
      assert(StandingLake.publish(setOf(2L -> "b", 3L -> "c"), lake) === 1L)
      assert(readIds() === Set(2L, 3L))
      assert(!new java.io.File(lake).list().exists(_.startsWith(".tmp-")),
        "the publish must sweep the torn temp")
      // N-1 retained for an in-flight reader of the previous generation
      assert(genDirs() === Set("g=0", "g=1"))
      assert(StandingLake.publish(setOf(4L -> "d"), lake) === 2L)
      assert(readIds() === Set(4L))
      assert(genDirs() === Set("g=1", "g=2"), "the sweeper must drop g=0 and keep N-1")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root.toFile)
    }
  }

  test("lake percolation scorer (DataFrame standing set) equals the driver-values scorer") {
    import org.apache.spark.sql.functions._
    TextAnalysis.persistBm25Index(spark, Sf0001)
    val batch = graft.core.Tables.load(spark, Sf0001, "documents")
    val standingLocal = TextAnalysis.bm25Standing(spark, Sf0001)
    val standingDf = TextAnalysis.bm25StandingQueriesDf(spark, Sf0001, lit(true))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val a = rows(TextAnalysis.bm25PercolateScore(batch, standingLocal,
      TextAnalysis.Terms.literal(standingLocal),
      TextAnalysis.Bm25DfTable, TextAnalysis.Bm25StatsTable))
    val b = rows(TextAnalysis.bm25ScoreDocsDf(batch, standingDf,
      TextAnalysis.Bm25DfTable, TextAnalysis.Bm25StatsTable))
    assert(a.nonEmpty && a === b,
      "the zero-collect DataFrame scorer must emit exactly the literal-set scorer's rows")
  }
}
