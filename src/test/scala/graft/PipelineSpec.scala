package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{KeyValue, MapReduce}
import graft.sources.{KeyValueTextSink, WholeTextInput}

/** The reference's full O1–O8 pipeline end-to-end (SURVEY.md §2.1):
  * whole-file text scan → mapf → shuffle → group → reducef →
  * per-partition `"key value"` text sink, compared after a global sort
  * exactly like `main/test-mr.sh:59-60`. Plus the §2.4 parallelism
  * probes (mtiming/rtiming), which in Spark reduce to scheduler
  * parallelism assertions.
  */
class PipelineSpec extends AnyFunSuite {

  test("driver flagship entry() returns rows and every declared query has an oracle") {
    // the two contract surfaces the driver checks blind: entry() must
    // produce rows at sf0.001, and every queries key needs an oracleSql
    // twin (a missing oracle silently downgrades a query to a weaker
    // rows-only check — this test makes the downgrade loud)
    val lazySpark = SparkTestSession.spark
    assert(SparkEntry.entry(lazySpark).count() > 0, "flagship must return rows")
    graft.operators.Kernels.retireCaches()
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without an oracle: ${missing.toSeq.sorted}")
  }
  lazy val spark = SparkTestSession.spark

  private def tmpDir(prefix: String): Path = SparkTestSession.tmpDir(prefix)

  test("wholetext scan -> wc mapreduce -> text sink matches sequential oracle") {
    val in = tmpDir("graft-wc-in")
    val docs = Map(
      "pg-a.txt" -> "the quick brown fox\njumps over the lazy dog\n",
      "pg-b.txt" -> "the fox\n",
      "pg-c.txt" -> "dog dog dog\n")
    docs.foreach { case (name, text) =>
      Files.writeString(in.resolve(name), text)
    }
    val input = WholeTextInput.read(spark, in.toString + "/*.txt")
    // filenames arrive as file: URIs; mapf sees the same name the
    // reference passes (basename is what wc ignores anyway)
    val mapf = (name: String, contents: String) =>
      contents.split("[^\\p{L}]+").iterator.filter(_.nonEmpty)
        .map(w => KeyValue(w, "1")).toSeq
    val reducef = (k: String, vs: Seq[String]) => vs.length.toString
    val result = MapReduce.run(input, mapf, reducef)

    val out = tmpDir("graft-wc-out")
    KeyValueTextSink.write(result.toDF(), out.toString, numPartitions = 3)

    // sequential oracle, like mrsequential.go
    val expected = docs.values.flatMap(_.split("[^\\p{L}]+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => s"$w ${ws.size}" }.toSeq.sorted

    import scala.jdk.CollectionConverters._
    val partFiles = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(partFiles.nonEmpty && partFiles.size <= 3 + 1)
    val got = partFiles.flatMap(p => Files.readAllLines(p).asScala).sorted
    assert(got == expected)
  }

  test("all occurrences of a key land in one sink partition (ihash contract)") {
    import spark.implicits._
    val kv = (0 until 100).map(i => KeyValue(s"k${i % 7}", i.toString))
    val out = tmpDir("graft-sink-out")
    KeyValueTextSink.write(spark.createDataset(kv).toDF(), out.toString, 5)
    import scala.jdk.CollectionConverters._
    val keyToFiles = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala.map(l => (l.split(" ")(0), p)))
      .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
    assert(keyToFiles.values.forall(_ == 1))
  }

  test("documents round-trip through JSONL, CSV, and ORC sources, schema-stable") {
    // format breadth beyond the reference's plain text (SURVEY §2.5
    // lists its absence): the same corpus read back from newline-
    // delimited JSON, quoted CSV (both with EXPLICIT schemas — schema
    // inference is a full extra pass at scale), and ORC (the second
    // columnar format, schema embedded) must be row-identical
    val sf = SparkTestSession.Sf
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val want = docs.collect().map(_.toSeq).toSet
    val base = tmpDir("graft-formats")
    docs.write.mode("overwrite").json(s"$base/jsonl")
    val fromJson = spark.read.schema(docs.schema).json(s"$base/jsonl")
    assert(fromJson.collect().map(_.toSeq).toSet == want, "JSONL round-trip")
    docs.write.mode("overwrite")
      .option("header", "true").option("escape", "\"").csv(s"$base/csv")
    val fromCsv = spark.read.schema(docs.schema)
      .option("header", "true").option("escape", "\"").option("multiLine", "true")
      .csv(s"$base/csv")
    assert(fromCsv.collect().map(_.toSeq).toSet == want, "CSV round-trip")
    docs.write.mode("overwrite").orc(s"$base/orc")
    val fromOrc = spark.read.orc(s"$base/orc")
    assert(fromOrc.collect().map(_.toSeq).toSet == want, "ORC round-trip")
    // ORC is a predicate-pushdown source like parquet: the filter must
    // reach the scan, not run as a post-scan Filter over full rows
    val plan = fromOrc.filter(col("doc_id") === 7L)
      .queryExecution.executedPlan.toString
    // loose match: filter ordering/rendering inside PushedFilters varies
    // across Spark versions (DSv1 vs DSv2 ORC render differently)
    assert("(?i)pushedfilters".r.findFirstIn(plan).isDefined
        && plan.contains("EqualTo(doc_id,7"),
      s"ORC scan should push the doc_id predicate down:\n$plan")
  }

  test("map parallelism probe (mtiming analogue)") {
    // the reference asserts wall-clock OVERLAP of concurrent map workers
    // (mrapps/mtiming.go:19-62, main/test-mr.sh:102-129) — not just
    // thread fan-out, which a sequential scheduler could also show.
    // Each task sleeps 300ms and reports its [start, end] interval; at
    // least one pair of intervals must overlap.
    assert(spark.sparkContext.defaultParallelism >= 2)
    import spark.implicits._
    val intervals = spark.range(0, 4, 1, numPartitions = 4)
      .mapPartitions { _ =>
        val s = System.nanoTime()
        Thread.sleep(300)
        Iterator.single((s, System.nanoTime()))
      }
      .collect()
    assert(intervals.length == 4)
    val overlapping = intervals.combinations(2).exists {
      case Array((s1, e1), (s2, e2)) => s1 < e2 && s2 < e1
    }
    assert(overlapping, s"no two map tasks overlapped in wall-clock: ${intervals.toSeq}")
  }

  test("reduce parallelism probe (rtiming analogue)") {
    import spark.implicits._
    // reduce groups must fan out over >=2 shuffle partitions (thread ids
    // are unreliable for tiny tasks, and AQE coalescing must be off or
    // it folds this tiny shuffle into one partition)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val n = spark.createDataset((0 until 1000).map(i => KeyValue(s"k${i % 10}", "1")))
        .groupByKey(_.key)
        .mapGroups((k, _) => (k, org.apache.spark.TaskContext.getPartitionId()))
        .collect()
      assert(n.map(_._2).distinct.length >= 2, "reduce ran in >=2 partitions")
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
  }
}
