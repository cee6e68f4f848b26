package graft.pipeline

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.classTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{encoderFor, AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{IterableEncoder, ProductEncoder}
import org.apache.spark.sql.functions.col

/** Typed pipeline compat API — the reference's user surface
  * (`Mapper`/`Reducer`/`:>`, /root/reference/src/Core/MapReduceC.hs:24-44)
  * re-expressed as composable Dataset transformations.
  *
  * Correspondence:
  *   - reference `Mapper k1 v1 k2 v2 = (k1,v1) -> [(k2,v2)]`  → [[Pipeline.mapper]]
  *     lowered to `ds.flatMap` (whole-partition `concatMap`, exactly the
  *     reference's `toM` lift at MapReduceC.hs:31-33).
  *   - reference `Reducer k v1 v2 = k -> [v1] -> [v2]` (multi-output!) →
  *     [[Pipeline.reducer]] lowered to an in-task grouping, then a
  *     grouping on the key column,
  *     `groupBy(col(_1)).as[K, (K, Seq[V])].flatMapGroups` — the only
  *     faithful mapping, since SQL agg can't emit 0..n rows per key. Each
  *     task first gathers its values per key in a hash table that holds
  *     at most [[Pipeline.FoldCap]] values, emitting one `(key, values)`
  *     row per held key when full and at the end; the key-column grouping
  *     joins a key's partial groups and calls `f` once, with all of that
  *     key's values. The shuffle so carries one row per (task, key, flush)
  *     instead of one per record.
  *   - [[Pipeline.combiner]] (no reference counterpart) lowered to a
  *     bounded per-task hash fold, then the same key-column grouping's
  *     `reduceGroups` (partial + final aggregation).
  *   - GADT `:>` composition → method chaining; the output type of each
  *     stage is the input type of the next, checked by scalac like the
  *     reference's `Serializable2 k2 v2 =>` constraint chain.
  *   - the hash-shuffle between stages (Partition.hs:53-57) is implicit in
  *     the key-column grouping. [[Pipeline.repartitionByKey]] directly
  *     before a reducer or combiner is applied after that stage's in-task
  *     pass, on the columns the grouping groups on: it *is* that stage's
  *     shuffle, with its partition count, and the grouping adds none.
  *     Before a mapper, or at the end of a pipeline, it repartitions
  *     where it stands.
  *
  * Each pipeline also carries its own naive evaluator ([[Pipeline.runLocal]])
  * — the analog of the reference's `naiveEvaluator` (MapReduceC.hs:65-74),
  * used as the differential-test oracle exactly like test/Generator.hs:83-92.
  *
  * Unlike the reference (no combiners, full materialization between stages,
  * MapReduceC.hs:35-40), consecutive mappers here fuse into one Spark stage
  * and Catalyst/Tungsten handle execution; only reducer boundaries shuffle.
  *
  * Value order within a key is unspecified — in the reference it depends on
  * shuffle arrival order (`fromListWith (++)` reverses encounter order,
  * Util.hs:21-22), in Spark on partitioning and on the in-task tables'
  * flushes. Reducers must therefore be insensitive to value order, and
  * result comparison sorts, exactly as the reference's own tests do
  * (test/Generator.hs:86-87).
  */
final class Pipeline[K1, V1, K2, V2] private (
    val length: Int,
    private val runDs: Dataset[(K1, V1)] => Dataset[(K2, V2)],
    private val local: Seq[(K1, V1)] => Seq[(K2, V2)],
    private val partitions: Option[Int] = None) {

  /** `runDs` with a trailing [[repartitionByKey]] applied where it stands. */
  private def output(ds: Dataset[(K1, V1)]): Dataset[(K2, V2)] = {
    val d = runDs(ds)
    partitions.fold(d)(d.repartition(_, col(d.columns.head)))
  }

  /** Append a flatMap stage: one record in, 0..n records out. */
  def mapper[K3, V3](f: ((K2, V2)) => IterableOnce[(K3, V3)])(
      implicit enc: Encoder[(K3, V3)]): Pipeline[K1, V1, K3, V3] =
    new Pipeline(length + 1,
      ds => output(ds).flatMap(f),
      xs => local(xs).flatMap(f(_).iterator))

  /** Append a per-key reducer stage emitting 0..n values per key. */
  def reducer[V3](f: (K2, Seq[V2]) => Seq[V3])(
      implicit enc: Encoder[(K2, V3)], kenc: Encoder[K2]): Pipeline[K1, V1, K2, V3] =
    new Pipeline(length + 1,
      ds => {
        val d = runDs(ds)
        val inTask =
          d.mapPartitions(Pipeline.groupInTask[K2, V2])(Pipeline.groupedEncoder(d.encoder))
        Pipeline.groupOnKey(inTask, partitions).flatMapGroups { (k, parts) =>
          val vs = ArraySeq.untagged.newBuilder[V2]
          parts.foreach(p => vs ++= p._2)
          f(k, vs.result()).iterator.map((k, _))
        }
      },
      xs => Pipeline.groupLocal(local(xs)).flatMap { case (k, vs) => f(k, vs).map((k, _)) })

  /** Append an associative-commutative combine stage: one value per key,
    * folded MAP-SIDE before the shuffle — the combiner the reference's
    * surface lacks (its reducers only ever run post-shuffle,
    * MapReduceC.hs:35-40, so every value crosses the network). Each task
    * first folds its records in a hash table of at most
    * [[Pipeline.FoldCap]] entries; the folded rows then go to a
    * key-column `reduceGroups`, which Spark plans as a typed aggregation
    * with partial merge: the shuffle carries one pre-folded value per
    * (partition, key) instead of every record. The in-task fold keeps
    * the map side cheap past the 128 keys at which Spark's object hash
    * aggregate falls back to sorting every record. `f` must be associative
    * and commutative; the naive evaluator folds in encounter order, so
    * the ScalaCheck distributed-vs-naive differential flags an `f` that
    * isn't (order then differs run-to-run). */
  def combiner(f: (V2, V2) => V2)(
      implicit enc: Encoder[(K2, V2)], kenc: Encoder[K2]): Pipeline[K1, V1, K2, V2] =
    new Pipeline(length + 1,
      ds => {
        val d = runDs(ds)
        Pipeline.groupOnKey(d.mapPartitions(Pipeline.foldInTask(f))(d.encoder), partitions)
          .reduceGroups((a, b) => (a._1, f(a._2, b._2)))
          .map(_._2)
      },
      xs => Pipeline.groupLocal(local(xs)).map { case (k, vs) => k -> vs.reduce(f) })

  /** Explicit hash repartition on the key — the reference's
    * between-stage shuffle (Partition.hs:53-57) surfaced as an operator.
    * Directly before a reducer or combiner it becomes that stage's
    * shuffle (see the class doc); a later `repartitionByKey` replaces
    * it, as two adjacent repartitions collapse into the last in Spark.
    * Local semantics: identity (partitioning is not observable). */
  def repartitionByKey(n: Int): Pipeline[K1, V1, K2, V2] =
    new Pipeline(length, runDs, local, Some(n))

  /** Run distributed on Spark. */
  def run(input: Seq[(K1, V1)])(implicit spark: SparkSession,
      enc: Encoder[(K1, V1)]): Seq[(K2, V2)] =
    output(spark.createDataset(input)).collect().toSeq

  /** Run on an existing Dataset (for large / file-backed inputs). */
  def apply(ds: Dataset[(K1, V1)]): Dataset[(K2, V2)] = output(ds)

  /** The naive single-threaded evaluator — the semantic oracle. */
  def runLocal(input: Seq[(K1, V1)]): Seq[(K2, V2)] = local(input)
}

object Pipeline {

  /** What one task's in-task table holds before it flushes: entries for
    * the combiner's fold, values for the reducer's grouping. */
  val FoldCap: Int = 1 << 12

  /** Group on the Dataset's first column, the key itself: no per-row key
    * lambda, no appended key column, and a preceding hash repartition on
    * that column already satisfies the grouping's distribution. A key
    * the encoder writes as top-level columns (a tuple or case class) is
    * grouped on its fields, the columns its deserializer reads.
    * `partitions` hash-repartitions on those same columns first, so that
    * repartition is the grouping's only exchange. */
  private def groupOnKey[K, V](d: Dataset[(K, V)], partitions: Option[Int])(
      implicit kenc: Encoder[K]): KeyValueGroupedDataset[K, (K, V)] = {
    val key = col(d.columns.head)
    val keyCols =
      if (encoderFor(kenc).isSerializedAsStructForTopLevel)
        kenc.schema.fieldNames.toSeq.map(n => key.getField(n).as(n))
      else Seq(key)
    partitions.fold(d)(d.repartition(_, keyCols: _*))
      .groupBy(keyCols: _*).as[K, (K, V)](kenc, d.encoder)
  }

  /** The encoder of the reducer's in-task rows, `(key, values)`, from the
    * stage input's `(key, value)` encoder. */
  private def groupedEncoder[K, V](enc: Encoder[(K, V)]): Encoder[(K, Seq[V])] = {
    val fields = encoderFor(enc).encoder.asInstanceOf[ProductEncoder[(K, V)]].fields
    val k = fields(0).enc.asInstanceOf[AgnosticEncoder[K]]
    val v = fields(1).enc.asInstanceOf[AgnosticEncoder[V]]
    Encoders.tuple(ExpressionEncoder(k),
      ExpressionEncoder(IterableEncoder(classTag[Seq[V]], v, v.nullable, false)))
  }

  /** A key's running fold. The table holds cells, not values, so a key
    * costs one lookup per record and a null value or fold result stays a
    * value (`java.util.HashMap.merge` rejects nulls). */
  private final class Folded[V](var value: V)

  /** The combiner's map-side fold: folds one task's records per key in a
    * hash table of at most [[FoldCap]] entries, emitting it and starting
    * a new one when full and at the end. Any flush point is safe because
    * `f` is associative and commutative. */
  private def foldInTask[K, V](f: (V, V) => V)(
      records: Iterator[(K, V)]): Iterator[(K, V)] =
    Iterator.continually {
      val acc = new java.util.HashMap[K, Folded[V]]()
      while (records.hasNext && acc.size < FoldCap) {
        val (k, v) = records.next()
        val cell = acc.get(k)
        if (cell == null) acc.put(k, new Folded(v)) else cell.value = f(cell.value, v)
      }
      acc.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue.value))
    }.takeWhile(_.hasNext).flatten

  /** The reducer's map-side grouping: gathers one task's values per key
    * in a hash table of at most [[FoldCap]] values, emitting one
    * `(key, values)` row per held key and starting a new table when full
    * and at the end. Any flush point is safe because the reduce side
    * joins a key's rows before calling the reducer. The values go out as
    * an indexed `Seq`, which the row encoder walks by position. */
  private def groupInTask[K, V](records: Iterator[(K, V)]): Iterator[(K, Seq[V])] =
    Iterator.continually {
      val acc = new java.util.HashMap[K, mutable.ArrayBuffer[V]]()
      var held = 0
      while (records.hasNext && held < FoldCap) {
        val (k, v) = records.next()
        val vs = acc.get(k)
        if (vs == null) acc.put(k, mutable.ArrayBuffer(v)) else vs += v
        held += 1
      }
      acc.entrySet.iterator.asScala.map(e => (e.getKey, ArraySeq.untagged.from(e.getValue)))
    }.takeWhile(_.hasNext).flatten

  /** The naive evaluator's grouping, in one pass: keys in first-encounter
    * order, each key's values in encounter order. */
  private def groupLocal[K, V](ys: Seq[(K, V)]): Seq[(K, Seq[V])] = {
    val acc = mutable.LinkedHashMap.empty[K, mutable.ArrayBuffer[V]]
    ys.foreach { case (k, v) => acc.getOrElseUpdate(k, mutable.ArrayBuffer.empty[V]) += v }
    acc.iterator.map { case (k, vs) => (k, vs.toSeq) }.toSeq
  }

  /** The identity pipeline — the reference's `MrOut` terminator. */
  def apply[K, V](): Pipeline[K, V, K, V] =
    new Pipeline(0, identity, identity)

  /** Start a pipeline with a mapper stage. */
  def mapper[K1, V1, K2, V2](f: ((K1, V1)) => IterableOnce[(K2, V2)])(
      implicit enc: Encoder[(K2, V2)]): Pipeline[K1, V1, K2, V2] =
    Pipeline[K1, V1]().mapper(f)

  /** Start a pipeline with a reducer stage. */
  def reducer[K, V1, V2](f: (K, Seq[V1]) => Seq[V2])(
      implicit enc: Encoder[(K, V2)], kenc: Encoder[K]): Pipeline[K, V1, K, V2] =
    Pipeline[K, V1]().reducer(f)
}

/** The reference's canonical pipeline (Impl.hs:30-44): run-length char
  * counts → +1 → per-key sum. Shared by the golden test and the
  * q_pipeline_wordcount registry query. */
object WordCount {

  /** mapper (Impl.hs:30-31): run-length encode the value's characters. */
  def runLength(kv: (String, String)): Seq[(String, Int)] = {
    val runs = Seq.newBuilder[(String, Int)]
    var i = 0
    val v = kv._2
    while (i < v.length) {
      var j = i
      while (j < v.length && v(j) == v(i)) j += 1
      runs += ((v(i).toString, j - i))
      i = j
    }
    runs.result()
  }

  /** mapperAdd1 (Impl.hs:33-34). */
  def add1(kv: (String, Int)): Seq[(String, Int)] = Seq((kv._1, kv._2 + 1))

  /** reducer (Impl.hs:36-37): per-key sum, single output. */
  def sumValues(k: String, vs: Seq[Int]): Seq[Int] = Seq(vs.sum)

  def pipeline(spark: SparkSession): Pipeline[String, String, String, Int] = {
    import spark.implicits._
    Pipeline.mapper(runLength).mapper(add1).reducer(sumValues)
  }

  val sampleInput: Seq[(String, String)] = Seq(("", "hello"))

  /** FIXTURES.md §A expected output. */
  val expected: Seq[(String, Int)] =
    Seq(("e", 2), ("h", 2), ("l", 3), ("o", 2))
}
