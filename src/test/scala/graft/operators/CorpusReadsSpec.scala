package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** How often a dedup query reads its parquet-backed corpus: the rows
  * its scans report (`inputMetrics.recordsRead`, summed over tasks)
  * divided by the corpus rows. Each operator reads only its corpus,
  * so the ratio is the number of corpus scans the plan runs. */
class CorpusReadsSpec extends SparkSpec {

  /** Corpus rows read while `df` runs to completion, over `rows`. */
  private def reads(df: DataFrame, rows: Long): Double = {
    val read = new AtomicLong
    withListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          read.addAndGet(m.inputMetrics.recordsRead))
    })(df.collect())
    read.get.toDouble / rows
  }

  test("similarityJoinExact and minhashLsh read their corpus at most twice") {
    val docs = tables.documents
    val n = docs.count()
    val exact = reads(SetJoin.similarityJoinExact(docs), n)
    val lsh = reads(Dedup.minhashLsh(docs), n)
    info(s"corpus reads: similarityJoinExact $exact, minhashLsh $lsh")
    assert(exact <= 2.0, s"similarityJoinExact read the corpus $exact times")
    assert(lsh <= 2.0, s"minhashLsh read the corpus $lsh times")
  }

  test("simhashPairs reads its corpus once") {
    val docs = tables.documents
    val r = reads(Dedup.simhashPairs(docs), docs.count())
    info(s"corpus reads: simhashPairs $r")
    assert(r <= 1.0, s"simhashPairs read the corpus $r times")
  }

  test("semdedupKeep reads its embeddings once") {
    val emb = tables.embeddings
    val n = emb.count()
    // the quantizer trains when the frame is built; only the query's
    // own scans are counted
    val keep = Dedup.semdedupKeep(emb, threshold = 0.35)
    val r = reads(keep, n)
    info(s"embedding reads: semdedupKeep $r")
    assert(r <= 1.0, s"semdedupKeep read its embeddings $r times")
  }
}
