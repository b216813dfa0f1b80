package graft.index

import graft.core.PostingShard
import scala.collection.mutable.ArrayBuffer

/** Streaming group-walk over a (term, fidx, shard, doc_id)-sorted posting
  * run: emits one encoded [[PostingShard]] per key group with a single
  * reusable triplet buffer per task — no per-group collection objects, no
  * aggregation hash map, no Kryo (see [[IndexBuilder.encodeShardsNarrow]]). */
object ShardEncoder {

  /** Walks narrow rows (see [[IndexBuilder.postingsNarrow]]): group key is
    * (fidx, term, shard) with `fidx` mapped back through `fields` (the
    * sorted field list) and (tf, dl) unpacked from one long. */
  def encodeSortedRunNarrow(rows: Iterator[(Byte, String, Long, Long, Long)],
                            fields: Array[String]): Iterator[PostingShard] =
    new Iterator[PostingShard] {
      private val buf = new ArrayBuffer[(Long, Int, Int)](256)
      private var pending: (Byte, String, Long, Long, Long) = _
      private var hasPending = false

      override def hasNext: Boolean = hasPending || rows.hasNext

      override def next(): PostingShard = {
        val first = if (hasPending) pending else rows.next()
        hasPending = false
        val (fidx, term, shard) = (first._1, first._2, first._3)
        buf.clear()
        var tf = (first._5 >>> 32).toInt
        buf += ((first._4, tf, first._5.toInt))
        var sumTf = tf.toLong
        var maxTf = tf
        var done = false
        while (!done && rows.hasNext) {
          val r = rows.next()
          if (r._1 == fidx && r._3 == shard && r._2 == term) {
            tf = (r._5 >>> 32).toInt
            buf += ((r._4, tf, r._5.toInt))
            sumTf += tf
            if (tf > maxTf) maxTf = tf
          } else {
            pending = r
            hasPending = true
            done = true
          }
        }
        val (blocks, blob) = PostingCodec.encode(buf.toArray)
        PostingShard(fields(fidx), term, shard, buf.length.toLong, sumTf, maxTf,
          blocks, blob)
      }
    }
}
