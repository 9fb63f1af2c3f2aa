package graft.storage

import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Physical-access research surface: sorted-array and learned (RMI)
  * indexes over a key column, re-expressed for a distributed engine
  * (ref include/mutable/storage/Index.hpp:56 ArrayIndex,
  * :161 RecursiveModelIndex; bulkloaded by CREATE INDEX,
  * ref src/catalog/DatabaseCommand.cpp:296-340).
  *
  * The reference is single-node main-memory: one sorted array with an
  * optional two-layer model hierarchy predicting positions. The
  * Spark-native shape splits those layers across the cluster:
  *
  *  - ROOT layer = the range partitioning itself. `repartitionByRange`
  *    assigns each key range to one partition; the driver keeps one
  *    (min, max, count) fence per partition — O(partitions) metadata,
  *    which at 100 TB (≈100k partitions) is still a few MB.
  *  - LEAF layer = per-partition sorted key array (ArrayIndex) plus,
  *    for the RMI method, linear models trained per segment exactly in
  *    the reference's two-layer scheme (spline root → regression
  *    leaves, prediction corrected by exponential search).
  *
  * A range lookup prunes partitions on the driver via the fences
  * (`PartitionPruningRDD` — non-matching partitions are never
  * scheduled), then each surviving partition answers with
  * lowerBound/upperBound over its local array.
  *
  * Two bulkloads build the same leaves and fences:
  *  - `build`, over a DataFrame (an externally registered parquet
  *    table): one range exchange + sort, the same work as writing a
  *    sorted table; the leaves are persisted and the fences collected.
  *  - `buildLocal`, over rows already on the driver (a dialect table
  *    filled by INSERT / IMPORT): sort on the driver, cut into
  *    `defaultParallelism` leaves, compute the fences locally, and hand
  *    the leaves over as an un-persisted `parallelize` RDD — no job,
  *    shuffle or persist.
  */
object Indexes {

  sealed trait IndexMethod
  case object ArrayMethod extends IndexMethod
  case object RmiMethod extends IndexMethod

  /** y = slope * x + intercept; the only model type the reference's
    * RMI uses (ref Index.hpp:172-232). */
  final case class LinearModel(slope: Double, intercept: Double) {
    def apply(x: Double): Double = slope * x + intercept
  }

  object LinearModel {
    /** Linear spline between first and last point: maps the key span
      * onto [offset, offset+n) scaled by `compression` (ref
      * Index.hpp train_linear_spline). */
    def trainSpline(keys: Array[Long], from: Int, until: Int,
        offset: Double, compression: Double): LinearModel = {
      val n = until - from
      if (n == 0) return LinearModel(0.0, 0.0)
      if (n == 1) return LinearModel(0.0, offset * compression)
      val denom = (keys(until - 1) - keys(from)).toDouble
      val slope = if (denom != 0) n.toDouble / denom * compression else 0.0
      LinearModel(slope, offset * compression - slope * keys(from))
    }

    /** Least-squares fit of position over key on one segment, running
      * Welford-style accumulation (ref Index.hpp
      * train_linear_regression). */
    def trainRegression(keys: Array[Long], from: Int, until: Int,
        offset: Double): LinearModel = {
      val n = until - from
      if (n == 0) return LinearModel(0.0, 0.0)
      if (n == 1) return LinearModel(0.0, offset)
      var meanX = 0.0; var meanY = 0.0; var c = 0.0; var m2 = 0.0
      var i = 0
      while (i < n) {
        val x = keys(from + i).toDouble
        val y = offset + i
        val dx = x - meanX
        meanX += dx / (i + 1)
        meanY += (y - meanY) / (i + 1)
        c += dx * (y - meanY)
        m2 += dx * (x - meanX)
        i += 1
      }
      val cov = c / (n - 1)
      val varX = m2 / (n - 1)
      if (varX == 0.0) LinearModel(0.0, meanY)
      else {
        val slope = cov / varX
        LinearModel(slope, meanY - slope * meanX)
      }
    }
  }

  /** One cached leaf: the partition's rows sorted by key, the sorted
    * key array, and (RMI only) the two-layer model hierarchy. */
  final class IndexPartition(
      val keys: Array[Long],
      val rows: Array[Row],
      val models: Array[LinearModel]) extends Serializable {

    def n: Int = keys.length
    def minKey: Long = keys(0)
    def maxKey: Long = keys(n - 1)

    /** First position with keys(pos) >= key (binary search over the
      * whole array — the ArrayIndex path, ref Index.hpp:131). */
    def lowerBound(key: Long): Int = {
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(mid) < key) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** First position with keys(pos) > key. */
    def upperBound(key: Long): Int = {
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(mid) <= key) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** Model-predicted position for `key`, clamped (ref
      * Index.hpp predict()). */
    def predict(key: Long): Int = {
      val seg = math.min(math.max(models(0)(key.toDouble), 0.0),
        (models.length - 2).toDouble).toInt
      val pred = math.min(math.max(models(seg + 1)(key.toDouble), 0.0), n.toDouble)
      math.min(pred.toInt, n - 1)
    }

    /** lowerBound starting from a model prediction, corrected by
      * doubling (exponential) search then binary search on the final
      * bracket (ref Index.hpp lower_bound_exponential_search). */
    def lowerBoundRmi(key: Long): Int = {
      val start = predict(key)
      if (keys(start) < key) { // true position is to the right
        var bound = 1; var prev = start; var curr = start + bound
        while (curr < n && keys(curr) < key) {
          bound *= 2; prev = curr; curr += bound
        }
        binarySearchLB(prev, math.min(curr + 1, n), key)
      } else { // to the left
        var bound = 1; var prev = start; var curr = start - bound
        while (curr > 0 && keys(curr) >= key) {
          bound *= 2; prev = curr; curr -= bound
        }
        binarySearchLB(math.max(0, curr), prev + 1, key)
      }
    }

    private def binarySearchLB(from: Int, until: Int, key: Long): Int = {
      var lo = from; var hi = until
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(mid) < key) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** All rows with key in [lo, hi], by positional slice. */
    def slice(lo: Long, hi: Long, useModels: Boolean): Iterator[Row] = {
      if (n == 0) return Iterator.empty
      val from = if (useModels && models != null) lowerBoundRmi(lo) else lowerBound(lo)
      var i = from
      // keys are sorted: emit until the first key > hi
      new Iterator[Row] {
        def hasNext: Boolean = i < n && keys(i) <= hi
        def next(): Row = { val r = rows(i); i += 1; r }
      }
    }
  }

  /** Trains the reference's two-layer RMI over one sorted key array:
    * root spline compressing the key span onto segment ids, one
    * regression leaf per segment (ref src/storage/Index.cpp
    * RecursiveModelIndex::finalize). Returns root +: leaves. */
  def trainRmi(keys: Array[Long], modelEntryRatio: Double = 1.0 / 64): Array[LinearModel] = {
    val nKeys = keys.length
    if (nKeys == 0) return Array(LinearModel(0, 0), LinearModel(0, 0))
    val nModels = math.max(1, (nKeys * modelEntryRatio).toInt)
    val out = Array.newBuilder[LinearModel]
    val root = LinearModel.trainSpline(keys, 0, nKeys, 0, nModels.toDouble / nKeys)
    out += root
    def segmentId(k: Long): Int =
      math.min(math.max(root(k.toDouble), 0.0), (nModels - 1).toDouble).toInt
    var segStart = 0
    var segId = 0
    var i = 0
    while (i < nKeys) {
      val pred = segmentId(keys(i))
      if (pred > segId) {
        out += LinearModel.trainRegression(keys, segStart, i, segStart)
        var j = segId + 1
        while (j < pred) { // empty segments fall back to boundary model
          out += LinearModel.trainRegression(keys, i, i, i)
          j += 1
        }
        segId = pred
        segStart = i
      }
      i += 1
    }
    out += LinearModel.trainRegression(keys, segStart, nKeys, segStart)
    var j = segId + 1
    while (j < nModels) {
      out += LinearModel.trainRegression(keys, nKeys, nKeys, nKeys)
      j += 1
    }
    out.result()
  }

  /** Driver-side fence for one leaf partition. */
  final case class Fence(pid: Int, min: Long, max: Long, count: Long)

  /** Total range scans served by any index (observability for tests:
    * proves a query was routed through an index, not a table scan). */
  val rangeScans = new java.util.concurrent.atomic.AtomicLong(0)

  /** A built index: cached leaf partitions + driver fences. */
  final class DistributedIndex(
      @transient val spark: SparkSession,
      val schema: org.apache.spark.sql.types.StructType,
      val leafRdd: RDD[IndexPartition],
      val fences: Array[Fence],
      val method: IndexMethod) extends Serializable {

    def numEntries: Long = fences.map(_.count).sum

    /** Partition ids whose fence intersects [lo, hi] — the pruning
      * decision the driver makes before any task is scheduled. */
    def matchingPartitions(lo: Long, hi: Long): Set[Int] =
      fences.filter(f => f.max >= lo && f.min <= hi).map(_.pid).toSet

    /** Range scan: fence-pruned partitions, partition-local
      * lower/upper bound, zero shuffles. */
    def rangeScan(lo: Long, hi: Long): DataFrame = {
      Indexes.rangeScans.incrementAndGet()
      val wanted = matchingPartitions(lo, hi)
      val useModels = method == RmiMethod
      val pruned = PartitionPruningRDD.create(leafRdd, wanted.contains)
      val rowRdd = pruned.mapPartitions(_.flatMap(_.slice(lo, hi, useModels)))
      spark.createDataFrame(rowRdd, schema)
    }

    def pointLookup(key: Long): DataFrame = rangeScan(key, key)

    def unpersist(): Unit = { leafRdd.unpersist(); () }
  }

  /** Key-to-Long mapping shared by build and lookup sides: integers
    * widen, DATE maps to proleptic epoch day (the same 32-bit ordinal
    * the reference stores dates as, ref Type.hpp:334), timestamps to
    * epoch milliseconds — each order-preserving within its type, which
    * is all the index needs (one index has one key type). */
  def keyToLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case d: java.time.LocalDate => d.toEpochDay
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case t: java.time.Instant => t.toEpochMilli
    case t: java.time.LocalDateTime =>
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case t: java.sql.Timestamp => t.getTime
    case other =>
      throw new IllegalArgumentException(s"unindexable key type: ${other.getClass}")
  }

  /** One leaf over key-sorted rows: the key array and, for the RMI
    * method, the models trained over it. Both bulkloads build their
    * leaves with it. */
  private def leaf(keys: Array[Long], rows: Array[Row],
      method: IndexMethod): IndexPartition =
    new IndexPartition(keys, rows, if (method == RmiMethod) trainRmi(keys) else null)

  /** Bulkload (ref ArrayIndex::bulkload): one range exchange + local
    * sort, then each partition materializes its sorted leaf. Integer
    * and DATE keys are mapped to longs on extraction (keyToLong). */
  def build(df: DataFrame, keyCol: String, method: IndexMethod = ArrayMethod,
      numPartitions: Int = 0): DistributedIndex = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    val keyIdx = df.schema.fieldIndex(keyCol)
    val sorted = df.repartitionByRange(parts, col(keyCol)).sortWithinPartitions(keyCol)
    val leafRdd = sorted.rdd.mapPartitions { it =>
      // NULL keys are not indexed (ref ArrayIndex::bulkload loads only
      // non-null keys); a lookup predicate can never match NULL anyway
      val rows = it.filter(_.get(keyIdx) != null).toArray
      if (rows.isEmpty) Iterator.empty
      else Iterator.single(leaf(rows.map(r => keyToLong(r.get(keyIdx))), rows, method))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val fences = leafRdd
      .mapPartitionsWithIndex { (pid, it) =>
        it.map(p => Fence(pid, p.minKey, p.maxKey, p.n.toLong))
      }
      .collect()
    new DistributedIndex(spark, df.schema, leafRdd, fences, method)
  }

  /** Bulkload over rows held on the driver: sort (key, row) on the
    * driver, skipping NULL keys as `build` does, cut the sorted rows
    * into `defaultParallelism` non-empty leaves and compute their
    * fences locally. Leaf i is partition i of an un-persisted
    * `parallelize` RDD, so building runs no job, shuffle or persist. */
  def buildLocal(spark: SparkSession, schema: StructType, rows: Seq[Row],
      keyCol: String, method: IndexMethod = ArrayMethod): DistributedIndex = {
    val keyIdx = schema.fieldIndex(keyCol)
    val sorted = rows.iterator.filter(!_.isNullAt(keyIdx))
      .map(r => (keyToLong(r.get(keyIdx)), r)).toArray.sortBy(_._1)
    val n = sorted.length
    val parts = math.min(spark.sparkContext.defaultParallelism, n)
    val leaves = (0 until parts).map { p =>
      val part = sorted.slice((p.toLong * n / parts).toInt, ((p + 1).toLong * n / parts).toInt)
      leaf(part.map(_._1), part.map(_._2), method)
    }
    val fences = leaves.zipWithIndex.map { case (l, pid) =>
      Fence(pid, l.minKey, l.maxKey, l.n.toLong)
    }.toArray
    val leafRdd = spark.sparkContext.parallelize(leaves, math.max(1, parts))
    new DistributedIndex(spark, schema, leafRdd, fences, method)
  }
}
