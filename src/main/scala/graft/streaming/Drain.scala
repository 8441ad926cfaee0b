package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The one place a stream is started, drained and sized. Every
  * `stream_*` query runs its stream to the end of the available input
  * through [[toMemory]] or [[foreachBatch]]: start, wait on
  * `processAllAvailable`, and stop on every exit path, so a batch that
  * throws fails the caller and leaves no query running. Stateful
  * drains wrap the call in [[withStatePartitions]], which sizes the
  * state stores to the expected key count and restores the session's
  * shuffle parallelism afterwards.
  *
  * `processAllAvailable` is the wait on purpose: its await is the
  * happens-before edge between a `foreachBatch` body's writes on the
  * stream thread and the caller's reads after the drain (see
  * [[DocStream.streamMediaKeepNearDupFrom]]).
  */
object Drain {

  /** Target state-store keys per stateful shuffle partition. Each
    * partition owns a state-store instance with per-batch checkpoint
    * I/O, so the partition count should follow state CARDINALITY, not
    * the batch shuffle default — the knob production turns is this
    * per-store key budget, with partitions = |keys| / budget.
    *
    * 64 — re-settled by measurement after r19 raised it to 256 on a
    * checkpoint-I/O dissection: the driver's r19 bench showed the
    * whole streaming family uniformly ~5% under the round's drift
    * line at 256, and the r20 re-measurement under driver conditions
    * (3 cold A/B pairs over all 32 stream queries, `local[32]`,
    * sf0.1, fresh JVM per run) confirmed it — every 64-budget run
    * beat every 256-budget run (74.7/77.0/76.9 s vs 78.5/79.3/77.3 s;
    * median per-query ratio 1.036 against 256). The extra store width
    * at 64 costs per-batch checkpoint I/O that parallel commits on
    * idle cores absorb, while fewer/larger stores serialize the
    * commit path the drain actually waits on. The budget errs low;
    * the clamp below still caps partitions at the session's
    * parallelism, and at production key cardinalities the quotient —
    * not the budget — is what sizes the state layout.
    */
  val TargetKeysPerStore = 64L

  /** Expected state keys for this suite's queries (event types ×
    * hours, user ids, session keys — a few hundred at every SF the
    * gate runs): |keys|/[[TargetKeysPerStore]] → 8 partitions at the
    * default budget, where the 32-partition batch default was pure
    * fixed overhead (~4× the useful work at sf0.1).
    */
  val ExpectedStateKeys = 512L

  /** State sizing for the STREAM-STREAM interval joins: each join
    * partition carries FOUR state stores (key-to-count and
    * key-with-index per side), so the per-partition fixed cost is ~4×
    * a windowed agg's and the same key count wants fewer partitions —
    * the per-user band rows are a few hundred at gate SFs. Measured
    * (best-of-2 warm, sf0.1): 8 partitions ≈ 2.9 s, 4 ≈ 2.2 s,
    * 2 ≈ 2.1 s per drain; 4 keeps headroom for band growth.
    */
  val JoinBandKeys = 256L

  /** partitions = ceil(expectedKeys / [[TargetKeysPerStore]]), clamped
    * to [1, the session's batch shuffle parallelism] — state sizing
    * should never EXCEED the compute parallelism the session asked for.
    */
  private[graft] def statePartitionsFor(spark: SparkSession, expectedKeys: Long): Int = {
    val batchDefault = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val wanted = math.ceil(expectedKeys.toDouble / TargetKeysPerStore).toInt
    math.max(1, math.min(batchDefault, wanted))
  }

  /** Run a streaming drain with shuffle partitions sized to the given
    * state cardinality via [[statePartitionsFor]]. The result is
    * identical for ANY partition count — the oracle gate asserts so,
    * and a spec drains one query at two sizings to pin the invariance.
    */
  private[graft] def withStatePartitions[T](
      spark: SparkSession, expectedKeys: Long = ExpectedStateKeys)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitionsFor(spark, expectedKeys).toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Drains `ds` into the memory sink `name` and returns the sink's
    * table. The memory sink is the oracle gate's harness; production
    * would write to a real sink with a checkpoint.
    */
  private[graft] def toMemory(ds: Dataset[_], mode: OutputMode, name: String): DataFrame = {
    run(ds.writeStream.outputMode(mode).format("memory").queryName(name).start())
    ds.sparkSession.table(name)
  }

  /** Drains `df` in append mode, handing each micro-batch and its id
    * to `f` on the stream-execution thread.
    */
  private[graft] def foreachBatch(df: DataFrame)(f: (DataFrame, Long) => Unit): Unit =
    run(df.writeStream.outputMode(OutputMode.Append()).foreachBatch(f).start())

  private def run(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()
}
