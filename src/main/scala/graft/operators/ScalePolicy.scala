package graft.operators

import org.apache.spark.sql.{Column, Dataset, SparkSession}

/** The engine's one scale decision: is this input narrower than the
  * cluster?
  *
  * Heavy scan-side computation — shingling + signature digests, BPE /
  * unigram tokenization, codec encode/decode, regex scoring — runs in
  * the SCAN stage, so its parallelism is the scan's partition count.
  * A small input (one parquet row group, a single file, a narrow
  * upstream coalesce) scans as 1-2 partitions and serializes that work
  * on one core while the rest of the machine idles; a well-partitioned
  * 100 TB input already saturates the cluster, where an unconditional
  * repartition would be a full corpus shuffle that buys nothing.
  *
  * A NARROW input therefore takes the small-input branch at every scale
  * site: it is fanned out to cluster parallelism ([[fanOut]]), its
  * expensive shared projections are materialized once (lazy seam
  * checkpoint), and the bigram family drops its `merge` join hints so
  * AQE can broadcast from real sizes. A WIDE input takes none of them.
  *
  * The session conf `spark.graft.scale` ([[Conf]]) picks the answer:
  *  - `auto` (the default): narrow iff the input's planned partition
  *    count is below the session's default parallelism — derived from
  *    the data and the session, never a constant;
  *  - `wide`: never narrow. Every site takes its corpus-scale branch,
  *    whatever the input size — the switch that lets a small fixture
  *    value-check the branch a 100 TB input runs (the engine's physical
  *    choices must never change the answer).
  * The `spark.` prefix lets `-Dspark.graft.scale=wide` reach any
  * GraftSession-built entry point through SparkConf.
  *
  * The `auto` answer is memoized. Reading the planned partition count
  * (`ds.rdd.getNumPartitions`) runs the FULL physical-planning pipeline
  * over the subtree and throws the result away — pure driver work that
  * would repeat at every scale site of every query. The memo keys on
  * (session, canonicalized analyzed plan), which is sound under two
  * session-lifetime preconditions: scan paths are immutable (file-scan
  * plans canonicalize by rootPaths — a path rewritten mid-session would
  * serve the old file set's decision; store segments get fresh paths,
  * hence fresh plans), and the scan-sizing confs
  * (spark.sql.files.maxPartitionBytes etc.) are fixed per session, as
  * GraftSession does. A deployment that mutates either mid-session must
  * clear the memo. The conf itself is read BEFORE the memo, so `wide`
  * is never served a cached `auto` answer. LRU-bounded so multi-session
  * JVMs (the test suite) cannot accumulate dead sessions' plan keys.
  */
object ScalePolicy {

  val Conf = "spark.graft.scale"

  private val narrowCache =
    new java.util.LinkedHashMap[(SparkSession, Any), java.lang.Boolean](
      256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, Any), java.lang.Boolean]): Boolean =
        size() > 256
    }

  /** True iff `ds` takes the small-input branch under the session's
    * `spark.graft.scale` (see the object doc). */
  def narrow(ds: Dataset[_]): Boolean = {
    val spark = ds.sparkSession
    spark.conf.get(Conf, "auto") match {
      case "wide" => false
      case "auto" =>
        val key = (spark, ds.queryExecution.analyzed.canonicalized)
        val hit = narrowCache.synchronized(narrowCache.get(key))
        if (hit != null) hit.booleanValue()
        else {
          val v = ds.rdd.getNumPartitions < spark.sparkContext.defaultParallelism
          narrowCache.synchronized(narrowCache.put(key, v))
          v
        }
      case other =>
        throw new IllegalArgumentException(
          s"$Conf must be 'auto' or 'wide', got '$other'")
    }
  }

  /** `ds` repartitioned by `key` to the session's default parallelism
    * iff it is [[narrow]].
    *
    * The partition count is pinned EXPLICITLY (`repartition(n, key)`,
    * shuffle origin REPARTITION_BY_NUM): a bare `repartition(key)` is
    * REPARTITION_BY_COL, which AQE's partition coalescing folds right
    * back to one partition when the shuffled bytes are under
    * `minPartitionSize` — precisely the small-input case this seam
    * exists for (measured: the fanned-out stage re-ran single-task).
    * Hash partitioning by a real key (never `rand()`): deterministic
    * under task retry, and the exchange is reusable by a downstream
    * join/groupBy on the same key. */
  def fanOut[T](ds: Dataset[T], key: Column): Dataset[T] =
    if (narrow(ds))
      ds.repartition(ds.sparkSession.sparkContext.defaultParallelism, key)
    else ds
}
