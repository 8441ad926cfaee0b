package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators._

/** Ad-hoc profiling entry for performance work (not part of the driver
  * contract). Times the operators that have historically dominated the
  * bench, one clean measurement each, with the same session config and
  * inter-query hygiene (cache retirement + GC) as Bench — session-
  * lifetime decay without the GC measured up to 8x on late queries.
  */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", "32")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Kernels.retireCaches()
      System.gc()
      r
    }

    time("dedup_clusters")(println(Dedup.clusters(spark, dir).count()))
    time("dedup_keep")(println(Dedup.keep(spark, dir).count()))
    time("dedup_ngram_jaccard")(println(Dedup.ngramJaccard(spark, dir).count()))
    time("kmeans_centroids")(println(KMeansCodebook.centroids(spark, dir).count()))
    time("sample_cluster_balanced")(println(KMeansCodebook.clusterBalancedSample(spark, dir).count()))
    time("tfidf_top_terms")(println(Corpus.tfidfTopTerms(spark, dir).count()))
    time("decontaminate")(println(Corpus.decontaminate(spark, dir).count()))
    time("dedup_minhash_lsh")(println(Dedup.minHashLsh(spark, dir).count()))
    time("dedup_simhash_pairs")(println(Dedup.simHashPairs(spark, dir).count()))
    time("embedding_near_dup_lsh")(println(Dedup.embeddingNearDupLsh(spark, dir).count()))
    time("embedding_near_dup")(println(Dedup.embeddingNearDup(spark, dir).count()))
    time("doc_winnowing")(println(TextAnalysis.winnowing(spark, dir).count()))
    time("doc_chunks")(println(TextAnalysis.docChunks(spark, dir).count()))
    time("events_approx_users")(println(Sketches.approxDistinctUsers(spark, dir).count()))
    time("events_approx_quantiles")(println(Sketches.approxQuantilesHist(spark, dir).count()))
    time("q3")(println(Relational.q3ShippingPriority(spark, dir).count()))
    time("q5")(println(Relational.q5LocalSupplier(spark, dir).count()))
    time("bm25_search")(println(Retrieval.bm25Search(spark, dir).count()))
    time("doc_perplexity")(println(Corpus.docPerplexityBigram(spark, dir).count()))
    time("dedup_semantic")(println(Dedup.semanticNearDup(spark, dir).count()))
    time("bpe_vocab_encode")(println(Bpe.vocabEncode(spark, dir).count()))
    // round-9 heavier compositions: the keep-filtered index pipeline
    // (clusters + two trainings + artifact IO) and the iterative
    // graph scorer (10 checkpointed rounds)
    time("pipeline_index")(println(ProductQuant.pipelineIndex(spark, dir).count()))
    time("graph_pagerank")(println(Graph.pageRank(spark, dir).count()))
    time("tfidf_search")(println(Retrieval.tfidfSearch(spark, dir).count()))
    time("mm_phash_pairs")(println(Multimodal.phashPairs(spark, dir).count()))
    // 64-round trainer depth probe: per-round wall time must stay flat
    // at realistic merge counts (the localCheckpoint lineage cut's
    // observable contract — Rounds=4 queries can't show compounding)
    locally {
      val probe = Bpe.roundProbe(spark, dir, 64)
      val secs = probe.map(_._2)
      probe.zipWithIndex.foreach { case ((nodes, s), i) =>
        println(f"[profile] bpe round ${i + 1}%2d: $s%.2f s ($nodes plan nodes)")
      }
      val firstHalf = secs.take(32).sum / 32
      val secondHalf = secs.drop(32).sum / 32
      println(f"[profile] bpe 64-round flatness: rounds 1-32 mean=$firstHalf%.2f s, " +
        f"rounds 33-64 mean=$secondHalf%.2f s, max=${secs.max}%.2f s")
      Kernels.retireCaches()
      System.gc()
    }
    spark.stop()
  }
}
