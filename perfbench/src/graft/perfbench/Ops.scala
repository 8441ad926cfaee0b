package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.{KeyValue, MapReduce}
import graft.sources.{KeyValueTextSink, WholeTextInput}

/** One timed operation. `body` runs the op's build and action through
  * the [[Step]] it is given and returns an untimed correctness check:
  * `None` when the output is right, else what was wrong.
  */
final case class Op(name: String, body: Step => (() => Option[String]))

/** The two timed phases of an op. `build` wraps the call that returns
  * the Dataset (plan building plus any eager jobs or stream drains the
  * program runs inside it); `action` wraps the final materializing call.
  */
trait Step {
  def spark: SparkSession
  def build[T](f: => T): T
  def action[T](f: => T): T
}

/** Row count plus an order-independent hash over every output column. */
final case class Digest(rows: Long, hash: String) {
  override def toString = s"$rows:$hash"
}

object Digest {
  def parse(s: String): Digest = {
    val Array(r, h) = s.split(":", 2)
    Digest(r.toLong, h)
  }

  /** Floating-point columns are rounded to 6 decimals (and -0.0 folded
    * into 0.0) before hashing, so summation order inside Spark cannot
    * change the digest; arrays and structs are normalized element-wise.
    */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.exists(f => needsNorm(f.dataType)) =>
      struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  /** One job: every column is read into the per-row hash, and the
    * per-row hashes are summed (as an exact decimal, so ANSI overflow
    * cannot fire). Column order is normalized by name.
    */
  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.sortBy(_.name).toIndexedSeq
      .map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    Digest(r.getLong(0), r.getDecimal(1).toBigInteger.toString(16))
  }
}

/** The reference's word-count and indexer applications (mapf/reducef
  * pairs), written against the library's generic MapReduce surface.
  */
object Apps {
  def words(contents: String): Iterator[String] =
    contents.split("[^\\p{L}]+").iterator.filter(_.nonEmpty)

  def baseName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  val wcMap: (String, String) => IterableOnce[KeyValue] =
    (_, contents) => words(contents).map(w => KeyValue(w, "1"))

  val wcReduce: (String, Seq[String]) => String = (_, values) => values.length.toString

  val indexMap: (String, String) => IterableOnce[KeyValue] = (file, contents) => {
    val doc = baseName(file)
    words(contents).toSet.iterator.map((w: String) => KeyValue(w, doc))
  }

  val indexReduce: (String, Seq[String]) => String = (_, values) => {
    val docs = values.sorted
    s"${docs.length} ${docs.mkString(",")}"
  }
}

object Workloads {
  val names = Seq("mr_corpus", "pipeline_loops", "stream_drain")

  // Ops per pass. The workload design lists 11 and 10 queries, which
  // take 28 s and 35 s per pass on a 4-core host; these subsets keep a
  // representative of each layer and fit one run in about half a minute.
  val pipelineLoops = Seq("graph_knn_components", "bm25_search_served")

  val streamDrain = Seq("stream_heavy_hitters", "stream_dedup_watermark")

  def queryNames(workload: String): Seq[String] = workload match {
    case "pipeline_loops" => pipelineLoops
    case "stream_drain" => streamDrain
    case _ => Nil
  }

  /** A `SparkEntry.queries` op: the entry call is the build, the digest
    * the action, and the check compares the digest with the recorded one.
    */
  def queryOp(name: String, dir: String, expected: Map[String, Digest]): Op =
    Op(name, st => {
      val df = st.build(SparkEntry.queries(name)(st.spark, dir))
      val got = st.action(Digest.of(df))
      () => expected.get(name) match {
        case Some(want) if want == got => None
        case Some(want) => Some(s"digest $got, recorded $want")
        case None => Some(s"no recorded digest (got $got)")
      }
    })

  /** A MapReduce op over the corpus directory (one file = one split),
    * written through the text sink with the reference's nReduce = 10 and
    * read back against the generator's exact tallies.
    */
  def mrOp(name: String, corpus: String, outRoot: String, expected: Map[String, String],
      job: Dataset[(String, String)] => Dataset[KeyValue]): Op =
    Op(name, st => {
      val out = s"$outRoot/$name"
      val kv = st.build(job(WholeTextInput.read(st.spark, corpus)).toDF("key", "value"))
      st.action(KeyValueTextSink.write(kv, out, 10))
      () => Tally.compare(Tally.readSink(out), expected)
    })

  /** `tallies` holds the generator's `wc.txt` and `index.txt`. */
  def mrOps(corpus: String, tallies: String, outRoot: String): Seq[Op] = {
    implicit val longEnc = Encoders.scalaLong
    val counts = Tally.load(s"$tallies/wc.txt")
    val postings = Tally.load(s"$tallies/index.txt")
    Seq(
      mrOp("wc", corpus, outRoot, counts,
        MapReduce.run(_, Apps.wcMap, Apps.wcReduce)),
      mrOp("wc_combining", corpus, outRoot, counts,
        MapReduce.runCombining[Long](_, Apps.wcMap, 0L, _.toLong, _ + _, _.toString)),
      mrOp("indexer", corpus, outRoot, postings,
        MapReduce.run(_, Apps.indexMap, Apps.indexReduce)))
  }
}

/** `key value` tallies: the generator's expected files and the sink's
  * part files share this line shape, so one parser serves both.
  */
object Tally {
  private def parse(lines: Iterator[String], into: java.util.HashMap[String, String]): Unit =
    lines.filter(_.nonEmpty).foreach { l =>
      val i = l.indexOf(' ')
      if (into.put(l.substring(0, i), l.substring(i + 1)) != null)
        throw new IllegalStateException(s"duplicate key in line: $l")
    }

  def load(path: String): Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    parse(Files.readAllLines(new File(path).toPath, UTF_8).asScala.iterator, m)
    m.asScala.toMap
  }

  def readSink(dir: String): Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("part-"))
      .foreach(f => parse(Files.readAllLines(f.toPath, UTF_8).asScala.iterator, m))
    m.asScala.toMap
  }

  def compare(got: Map[String, String], want: Map[String, String]): Option[String] =
    if (got == want) None
    else {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val wrong = want.keySet.intersect(got.keySet).find(k => got(k) != want(k))
      Some(s"${got.size} keys vs ${want.size} expected; missing ${missing.take(3)}, " +
        s"extra ${extra.take(3)}, wrong ${wrong.map(k => s"$k: ${got(k)} != ${want(k)}")}")
    }
}
