package graftbench

import graft.dedup.Dedup
import graft.functions.{BoundedCollectLongs, MinhashMins, OrderedPairsGen, ShingleHashes, WordTokens}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Micro-timings of graft's native kernels, called directly (no Spark
  * job) on inputs drawn from the workload's generated corpus: each
  * kernel's input is the previous kernel's output, and the pair and
  * collect kernels run over the corpus's own shingle buckets. Reports
  * ns and allocated bytes (ThreadMXBean) per input row.
  */
object Kernels {

  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  final case class Timing(rows: Long, nsPerRow: Double, allocBytesPerRow: Double)

  // kernel results land here, so the JIT cannot drop the calls as dead code
  @volatile private var sink = 0L

  /** Run `pass` (which returns the rows it processed) until `minNs` have
    * elapsed after two untimed warm-up passes.
    */
  private def time(minNs: Long)(pass: () => Long): Timing = {
    pass(); pass()
    val tid = Thread.currentThread().getId
    var rows = 0L
    val a0 = mx.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < minNs) rows += pass()
    val ns = System.nanoTime() - t0
    val alloc = mx.getThreadAllocatedBytes(tid) - a0
    Timing(rows, ns.toDouble / rows, alloc.toDouble / rows)
  }

  def run(texts: Seq[String], n: Int, numHashes: Int, maxBucket: Int, minNs: Long): Map[String, Timing] = {
    val utf = texts.map(UTF8String.fromString).toArray
    val toks: Array[ArrayData] = utf.map(WordTokens.tokenize)
    val shs: Array[ArrayData] = toks.map(t => ShingleHashes.compute(t, n))
    val (as, bs) = (0 until numHashes).map(Dedup.MinhashParams).toArray.unzip
    val mins = MinhashMins(BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true),
      as, bs, Dedup.MinhashPrime)
    // the corpus's shingle buckets over these documents, kept as the
    // Jaccard path keeps them: 2..maxBucket members
    val buckets = {
      val m = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
      shs.zipWithIndex.foreach { case (a, doc) =>
        a.toLongArray.distinct.foreach(h => m.getOrElseUpdate(h, mutable.ArrayBuffer.empty) += doc.toLong)
      }
      m.values.filter(b => b.size >= 2 && b.size <= maxBucket).map(_.toArray).toArray
    }
    val bucketRows = buckets.map(b => InternalRow(new GenericArrayData(b)))
    val pairs = OrderedPairsGen(BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true))
    val collect = BoundedCollectLongs(BoundReference(0, LongType, nullable = false), maxBucket)
    val idRows = buckets.map(_.map(id => InternalRow(id)))
    // each pass folds its results into a local and publishes it once
    Map(
      "word_tokens" -> time(minNs) { () =>
        var acc = 0L
        utf.foreach(s => acc += WordTokens.tokenize(s).numElements())
        sink = acc; utf.length.toLong
      },
      "shingle_hashes" -> time(minNs) { () =>
        var acc = 0L
        toks.foreach(t => acc += ShingleHashes.compute(t, n).numElements())
        sink = acc; toks.length.toLong
      },
      "minhash_mins" -> time(minNs) { () =>
        var acc = 0L
        shs.foreach { a =>
          val r = mins.nullSafeEval(a)
          if (r != null) acc += r.asInstanceOf[ArrayData].getLong(0)
        }
        sink = acc; shs.length.toLong
      },
      "ordered_pairs" -> time(minNs) { () =>
        var acc = 0L
        var emitted = 0L
        bucketRows.foreach(r => pairs.eval(r).iterator.foreach { p => acc += p.getLong(1); emitted += 1 })
        sink = acc; emitted
      },
      "bounded_collect" -> time(minNs) { () =>
        var acc = 0L
        var fed = 0L
        idRows.foreach { rows =>
          val buf = collect.createAggregationBuffer()
          rows.foreach(r => collect.update(buf, r))
          val r = collect.eval(buf)
          if (r != null) acc += r.asInstanceOf[ArrayData].numElements()
          fed += rows.length
        }
        sink = acc; fed
      })
  }
}
