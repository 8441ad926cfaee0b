package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Invariant and kernel checks for the corpus-hygiene operators
  * (Corpus.scala) and export sharding (Sampling.exportShuffle). The
  * oracle gate covers value equality against DuckDB; these pin the
  * behaviors a hash-compare can't express — notably PII redaction,
  * which the synthetic corpus never exercises (it contains no PII).
  */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  test("pii scrub redacts emails, IPs and long numbers in synthetic text") {
    import spark.implicits._
    // nn replicates piiScrub's SEQUENTIAL count: numbers are counted on
    // the email+ip-scrubbed text, so digits consumed by an earlier
    // redaction are never double-counted
    val afterIp = regexp_replace(
      regexp_replace(col("text"), Corpus.EmailRe, "<EMAIL>"),
      Corpus.Ipv4Re, "<IP>")
    val rows = Seq(
      "contact bob.smith+spam@example.co.uk or 10.0.255.3 now",
      "card 1234567890 pin 12345 ip 1.2.3.4.5", // 12345 too short to redact
      "reach 1234567@corp.com now", // digit run consumed by the email redaction
      "no pii here at all").toDF("text")
      .select(Corpus.scrubbed(col("text")).as("s"),
        regexp_count(col("text"), lit(Corpus.EmailRe)).as("ne"),
        regexp_count(col("text"), lit(Corpus.Ipv4Re)).as("ni"),
        regexp_count(afterIp, lit(Corpus.LongNumRe)).as("nn"))
      .collect()
    assert(rows(0).getAs[String]("s") == "contact <EMAIL> or <IP> now")
    assert(rows(0).getAs[Int]("ne") == 1 && rows(0).getAs[Int]("ni") == 1)
    // 1.2.3.4.5 is not a valid IPv4 boundary match on the right, but the
    // leading 1.2.3.4 is: the \b dialect matches the first four octets
    assert(rows(1).getAs[String]("s") == "card <NUM> pin 12345 ip <IP>.5")
    assert(rows(1).getAs[Int]("nn") == 1)
    assert(rows(2).getAs[String]("s") == "reach <EMAIL> now")
    assert(rows(2).getAs[Int]("ne") == 1 && rows(2).getAs[Int]("nn") == 0,
      "the 7-digit run is part of the email and must not count as a number")
    assert(rows(3).getAs[String]("s") == "no pii here at all")
  }

  test("pii scrub over the corpus is count-zero and fingerprint-stable") {
    val out = Corpus.piiScrub(spark, sf)
    assert(out.filter(col("n_email") + col("n_ip") + col("n_num") > 0).count() == 0)
    // no matches ⇒ scrubbed fingerprint == raw md5 of the text
    val raw = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    assert(out.join(raw, "doc_id")
      .filter(col("scrubbed_fp") =!= col("fp")).count() == 0)
  }

  test("decontaminate hits are bounded by the doc's gram count and benchmark docs are excluded") {
    val out = Corpus.decontaminate(spark, sf).collect()
    assert(out.nonEmpty) // near-dup docs leak shared 5-grams at sf0.001+
    out.foreach { r =>
      val hits = r.getAs[Long]("n_hit")
      assert(hits >= 1 && hits <= r.getAs[Long]("n_grams"))
      val id = r.getAs[Long]("doc_id")
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bench:$id".getBytes("UTF-8"))
      assert(f"${h(0) & 0xff}%02x" >= Corpus.BenchSplitThreshold,
        s"benchmark doc $id must not be reported as contaminated")
    }
  }

  test("decontaminate broadcasts the benchmark gram set") {
    val plan = Corpus.decontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side must broadcast, got:\n$plan")
  }

  test("repetition stats are valid fractions and detect a repeated document") {
    val rows = Corpus.repetitionStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[Double]("top_bigram_frac")
      val d = r.getAs[Double]("dup_5gram_frac")
      assert(t >= 0.0 && t <= 1.0 && d >= 0.0 && d <= 1.0)
    }
    // word-salad docs repeat bigrams from the tiny vocabulary: the
    // operator must see nonzero repetition somewhere
    assert(rows.exists(_.getAs[Double]("top_bigram_frac") > 0.0))
  }

  test("tfidf ranks are dense per doc and ordered by score") {
    val rows = Corpus.tfidfTopTerms(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rk"))
      assert(byRank.map(_.getAs[Long]("rk")).sameElements(1L to byRank.length))
      assert(byRank.length <= Corpus.TfIdfTopK)
      val scores = byRank.map(_.getAs[Double]("score"))
      assert(scores.sameElements(scores.sortBy(-(_: Double))))
    }
  }

  test("export shuffle is a permutation with contiguous per-shard positions") {
    val rows = Sampling.exportShuffle(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.length == nDocs)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == nDocs)
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (shard, rs) =>
      assert(shard >= 0 && shard < Sampling.ExportShards)
      val pos = rs.map(_.getAs[Long]("pos")).sorted
      assert(pos.sameElements(1L to pos.length))
    }
  }

  test("bpe-ish token counts agree with the letter tokenizer where they must") {
    val counts = TextAnalysis.tokenCounts(spark, sf).collect()
    val letter = TextAnalysis.tokenStats(spark, sf)
      .select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    counts.foreach { r =>
      assert(r.getAs[Long]("n_letter_tokens") == letter(r.getAs[Long]("doc_id")),
        "letter tokenizer must match token_stats exactly")
      // words are maximal non-space runs; every word contains >= 1
      // letter/digit/symbol token, so the BPE-ish count can't be lower
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_ws_tokens"))
    }
  }

  test("corpus stats totals are consistent with token_stats") {
    val stats = Corpus.corpusStats(spark, sf)
      .agg(sum("n_docs"), sum("total_tokens")).collect()(0)
    val tok = TextAnalysis.tokenStats(spark, sf)
      .agg(count(lit(1)), sum("n_tokens")).collect()(0)
    assert(stats.getLong(0) == tok.getLong(0))
    assert(stats.getLong(1) == tok.getLong(1))
  }

  test("bigram PMI: frequent pairs only, ranked, and exact on a synthetic collocation") {
    // PMI pins tracked caches (count frames) — retire like Bench does
    val rows = try Corpus.bigramPmi(spark, sf).collect() finally Kernels.retireCaches()
    assert(rows.length <= Corpus.PmiTopK)
    rows.foreach(r => assert(r.getAs[Long]("n") >= Corpus.PmiMinCount))
    val pmis = rows.map(r => (r.getAs[Double]("pmi"), r.getAs[String]("bigram")))
    assert(pmis.sameElements(pmis.sortBy { case (p, b) => (-p, b) }),
      "output must be ranked by (pmi desc, bigram)")
    // a pair that always co-occurs and words that never repeat give
    // pmi = ln(T²/(TB·n)): 6 docs of "alpha beta", so U=6,6 T=12, B=6 TB=6
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, "alpha beta")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("pmi").toFile
    try {
      docs.write.mode("overwrite").parquet(new java.io.File(tmp, "documents.parquet").getPath)
      val r = try Corpus.bigramPmi(spark, tmp.getPath).collect() finally Kernels.retireCaches()
      assert(r.length == 1 && r(0).getAs[String]("bigram") == "alpha beta")
      val want = BigDecimal(math.log((6.0 / 6.0) / ((6.0 / 12.0) * (6.0 / 12.0))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r(0).getAs[Double]("pmi") == want)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp)
    }
  }

  test("vocab head: dense ranks, non-increasing counts, coverage monotone to <= 1") {
    // vocabTop pins a tracked cache whose canonical plan SUBSUMES other
    // token aggregates (wc) — leaked, it turns their plan audits into
    // InMemoryRelation scans; retire like Bench/Verify do
    val rows = try Corpus.vocabTop(spark, sf).collect() finally Kernels.retireCaches()
    // exact row count: min(K, |vocabulary|) — the synthetic corpus has a
    // SMALL closed vocabulary (31 types), so a tautological <= K bound
    // would mask dropped rows
    val vocabSize = graft.Tables.documents(spark, sf)
      .select(explode(TextAnalysis.tokens(col("text"))).as("t")).distinct().count()
    assert(rows.length == math.min(Corpus.VocabTopK.toLong, vocabSize))
    val rks = rows.map(_.getAs[Long]("rk"))
    assert(rks.sameElements(1L to rows.length))
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.sameElements(cnts.sorted.reverse), "counts non-increasing by rank")
    val cums = rows.map(_.getAs[Double]("cum_share"))
    assert(cums.sameElements(cums.sorted), "cumulative share monotone")
    assert(cums.last <= 1.0 + 1e-9)
    val shares = rows.map(_.getAs[Double]("share"))
    assert(math.abs(cums.head - shares.head) < 1e-9)
  }

  test("mix epochs: per-source epoch counts in range, every doc replicated exactly") {
    val rows = Sampling.mixEpochs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_epochs"), r.getAs[Long]("epoch")))
    val bySource = rows.groupBy(_._2).view.mapValues(_.map(_._3).distinct).toMap
    bySource.foreach { case (s, ks) =>
      assert(ks.length == 1 && ks.head >= 1 && ks.head <= Sampling.MaxEpochs,
        s"source $s epochs $ks")
    }
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted.sameElements(1L to rs.head._3))
    }
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_._1).distinct.length == nDocs)
  }

  test("sentence split: dense indices and token counts that sum to the doc's") {
    val perDoc = TextAnalysis.tokenStats(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    val rows = TextAnalysis.sentences(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("sent_idx"), r.getAs[Long]("n_tokens")))
    rows.groupBy(_._1).foreach { case (d, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1L to rs.length), s"doc $d indices not dense")
      // terminal punctuation is never inside a letter-run token, so
      // sentence tokens partition the document's tokens exactly
      assert(rs.map(_._3).sum == perDoc(d), s"doc $d token sum mismatch")
    }
  }

  test("length histogram: buckets partition the corpus and bounds are powers of two") {
    val rows = Corpus.lengthHistogram(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    val perDoc = TextAnalysis.tokenStats(spark, sf).collect()
      .map(r => r.getAs[Long]("n_tokens"))
    val wantBuckets = perDoc.groupBy(n => 63 - java.lang.Long.numberOfLeadingZeros(n + 1))
      .map { case (b, ns) => (b.toLong, ns.length.toLong, ns.sum) }.toSet
    assert(rows.map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("total_tokens"))).toSet == wantBuckets)
  }
}
