package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Narrow bridge into three `private[sql]` session APIs that have no
  * public equivalent, used by [[graft.streaming.Topology]] to scope
  * query-start confs (graft's checkpoint file manager, a topology's
  * state-store provider) to the streams graft starts:
  *
  *  - `cloneSession()` — unlike the public `newSession()`, the clone
  *    inherits the parent's RUNTIME conf (and temp views/UDFs), so a
  *    caller's tuned session carries over and only the overlay
  *    differs.
  *  - `Dataset.ofRows` — re-binds an already-wired logical plan to
  *    the clone. Topology spouts may close over DataFrames of the
  *    caller's session (e.g. a MemoryStream), so the plan has to be
  *    transplanted rather than rebuilt.
  *  - the session catalog's temp views — a view the clone's query
  *    registers (a memory sink's result) is shared back to the
  *    caller's session.
  *
  * One of the three sanctioned files outside the `graft` namespace
  * (with [[org.apache.spark.sql.graft.ColumnBridge]] and
  * [[org.apache.spark.sql.graft.StreamingShim]] — each a narrow,
  * documented `private[sql]` seam); this one exists so those confs
  * can live on a private session instead of being set-then-restored
  * on the caller's (which a concurrent query on the same session
  * could capture mid-window).
  */
object SessionBridge {

  /** A full clone of `s` (same SparkContext and shared catalog;
    * copied runtime conf, temp views, UDFs) with `confs` overlaid on
    * the clone only.
    */
  def cloneWithConf(s: SparkSession, confs: (String, String)*): SparkSession = {
    val c = s.asInstanceOf[ClassicSession].cloneSession()
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** Re-bind `df`'s logical plan to `to` (must share `df`'s
    * SparkContext): the returned frame plans and runs under `to`'s
    * session state/conf.
    */
  def transplant(to: SparkSession, df: DataFrame): DataFrame =
    ClassicDataset.ofRows(to.asInstanceOf[ClassicSession],
      df.asInstanceOf[ClassicDataset[Row]].queryExecution.logical)

  /** Run `start` — which starts a query on the clone `from` — and
    * register in `to` every temp view it created or replaced on
    * `from`: a memory sink names its result view on the session its
    * query runs on, and the caller reads it by name on its own.
    */
  def sharingTempViews[T](from: SparkSession, to: SparkSession)(start: => T): T = {
    val src = from.asInstanceOf[ClassicSession].sessionState.catalog
    def views = src.getTempViewNames().flatMap(n => src.getRawTempView(n).map(n -> _)).toMap
    val before = views
    val started = start
    val dst = to.asInstanceOf[ClassicSession].sessionState.catalog
    views.foreach { case (n, v) =>
      if (!before.get(n).exists(_ eq v)) dst.createTempView(n, v, overrideIfExists = true)
    }
    started
  }

  /** A DataFrame over an arbitrary logical plan — used by
    * `MergeTable.readIndexed` to hand Catalyst a `LogicalRelation`
    * wrapping the manifest-backed [[graft.operators.GraftFileIndex]]
    * (the same seam Delta's DeltaLog.createDataFrame rides).
    */
  def ofPlan(s: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    ClassicDataset.ofRows(s.asInstanceOf[ClassicSession], plan)

  /** Repartition `df` into exactly `n` partitions by the precomputed
    * INT value of `bucketCol` (clamped into [0, n)) — ONE evaluation
    * of the input and ONE shuffle, with NO RangePartitioner sampling
    * pass (r22: `repartitionByRange(n > 1, …)` evaluates its child
    * twice — once to sample the bounds, once for the shuffle — so a
    * staged write whose bounds are already known, e.g. from manifest
    * stats, paid its scan/join subtree twice for nothing). Rows ride
    * the same UnsafeRow wire format Spark's own exchanges use; the
    * within-partition row order is fetch order, exactly like a native
    * range exchange (neither sorts within partitions).
    */
  def repartitionByBucket(df: DataFrame, bucketCol: String, n: Int): DataFrame = {
    require(n >= 1, s"bucket count must be >= 1, got $n")
    val classic = df.asInstanceOf[ClassicDataset[Row]]
    val session = classic.sparkSession
    val schema = df.schema
    val idx = schema.fieldIndex(bucketCol)
    val width = schema.length
    val nb = n
    // no defensive copies (mirroring ShuffleExchangeExec's
    // needToCopyObjectsBeforeShuffle = false here): with ≤200
    // partitions the bypass-merge writer serializes each record at
    // insert, and past that the relocation-supporting
    // UnsafeRowSerializer selects the serialized (unsafe) writer,
    // which also consumes the record immediately — so the reused
    // MutablePair and the projection's reused output buffer are safe,
    // and the per-row copy the first cut paid was pure overhead
    val pairs = classic.queryExecution.toRdd.mapPartitions { it =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(schema)
      val pair = new org.apache.spark.util.MutablePair[Int,
        org.apache.spark.sql.catalyst.InternalRow]()
      it.map { r =>
        val b = r.getInt(idx)
        val clamped = if (b < 0) 0 else if (b >= nb) nb - 1 else b
        val unsafe: org.apache.spark.sql.catalyst.InternalRow = r match {
          case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u
          case o => proj(o)
        }
        pair.update(clamped, unsafe)
      }
    }
    val part = new org.apache.spark.Partitioner {
      override val numPartitions: Int = nb
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    val shuffled = new org.apache.spark.rdd.ShuffledRDD[Int,
        org.apache.spark.sql.catalyst.InternalRow,
        org.apache.spark.sql.catalyst.InternalRow](pairs, part)
      .setSerializer(new org.apache.spark.sql.execution.UnsafeRowSerializer(width))
    session.internalCreateDataFrame(shuffled.map(_._2), schema)
  }
}
