package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.expressions.LongBloomMightContain

/** Runtime bloom-filter semi-join reduction.
  *
  * A shuffle join `fact ⋈ filtered-dim` moves EVERY fact row through
  * the exchange, then discards the ones whose key the dim side
  * filtered away — at 100 TB that discarded traffic dominates the
  * job. Building a bloom filter over the dim side's surviving keys
  * (one distributed aggregation over the — much smaller — dim) and
  * probing it on the fact side BEFORE the exchange cuts the shuffle
  * to matching rows + the filter's false-positive rate. The join
  * itself stays exact: false positives die in the join as before.
  *
  * This is what Spark's `InjectRuntimeFilter` does adaptively when
  * statistics and thresholds allow; the explicit operator guarantees
  * the reduction (deterministically, with caller-chosen sizing) for
  * pipelines that know their selectivity — and unlike a broadcast
  * join it only needs the dim's KEY SET compressed to ~1 byte/key,
  * so it applies when the dim itself is too wide or too large to
  * broadcast.
  */
object RuntimeFilter {

  /** Serialized bloom filter over `dim[key]` (spark-sketch format). */
  def keyBloom(dim: DataFrame, key: String, expectedItems: Long,
               fpp: Double): Array[Byte] = {
    val bloom: BloomFilter = dim.stat.bloomFilter(key, expectedItems, fpp)
    val out = new ByteArrayOutputStream()
    bloom.writeTo(out)
    out.toByteArray
  }

  /** Whether `key` (a long) might be in the serialized filter — the
    * one place graft broadcasts a bloom filter. The bytes are
    * torrent-broadcast once per query; the plan carries only the
    * handle (an inlined filter re-ships inside every stage's task
    * binary — megabytes serialized+compressed per stage per job). */
  def mightContain(spark: SparkSession, key: Column,
                   bloomBytes: Array[Byte]): Column = {
    val bc = spark.sparkContext.broadcast(bloomBytes)
    GraftBridge.column(
      LongBloomMightContain(GraftBridge.expression(key), bc))
  }

  /** `fact` rows whose `key` might be in the serialized filter —
    * map-only, codegen, upstream of any exchange. */
  def bloomProbe(fact: DataFrame, key: String,
                 bloomBytes: Array[Byte]): DataFrame =
    fact.filter(mightContain(fact.sparkSession, fact(key), bloomBytes))

  /** Equi-join `fact(factKey) = dim(dimKey)` with the fact side
    * pre-pruned by a bloom filter built from the dim side's keys.
    * Result-identical to the plain join (output keeps `factKey`);
    * the exchange on the fact side carries only probable matches. */
  def bloomPrunedJoin(fact: DataFrame, factKey: String,
                      dim: DataFrame, dimKey: String,
                      expectedItems: Long = 1L << 20,
                      fpp: Double = 0.03): DataFrame =
    bloomProbe(fact, factKey, keyBloom(dim, dimKey, expectedItems, fpp))
      .join(dim.withColumnRenamed(dimKey, factKey), Seq(factKey))
}
