package graft

import graft.core.Message
import graft.sinks.Sinks
import graft.sources.{PollOffset, PolledBlock, PolledMicroBatchStream, PolledPartition, PolledSource, Poller, PollerRegistry}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, MapData}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import java.util.concurrent.ConcurrentLinkedQueue

/** The polled source's partition codec: every message travels to its
  * task as part of one flat byte block per partition (`PolledBlock`),
  * in streaming and batch mode alike. */
class PolledCodecSpec extends SparkSpec {

  private def utf8(s: String) = s.getBytes("UTF-8")

  /** Several attributes in a hash map, whose iteration order is not
    * insertion order. */
  private val manyAttrs: Map[String, String] =
    (1 to 7).map(i => s"attr-$i" -> s"v$i").toMap + ("" -> "") + ("ü" -> "日本")

  private val awkward: Seq[Message] = Seq(
    Message(null, null, null, Map("only" -> "attrs")),
    Message("empty-value", Array.emptyByteArray, "t", Map.empty),
    Message("ключ-é-日本-😀", utf8("значение"), "тема/日本/😀", Map("ü" -> "ß")),
    Message("attrs", utf8("v"), "t", manyAttrs),
    Message("null-attrs", utf8("v"), "", null))

  /** A Row as comparable values: the value as a Seq, the map as Scala. */
  private def norm(r: Row): (String, Option[Seq[Byte]], String, Option[Map[String, String]]) =
    (r.getString(0), Option(r.getAs[Array[Byte]](1)).map(_.toSeq), r.getString(2),
      Option(r.getMap[String, String](3)).map(_.toMap))

  private def norm(m: Message): (String, Option[Seq[Byte]], String, Option[Map[String, String]]) =
    (m.key, Option(m.value).map(_.toSeq), m.topic, Option(m.attributes))

  private def decode(p: PolledPartition): Seq[InternalRow] = {
    val r = PolledBlock.reader(p)
    Iterator.continually(r).takeWhile(_.next()).map(_.get().copy()).toVector
  }

  private def strings(m: MapData): (Seq[UTF8String], Seq[UTF8String]) =
    (m.keyArray().toSeq[UTF8String](StringType), m.valueArray().toSeq[UTF8String](StringType))

  final class QueuePoller(msgs: Seq[Message]) extends Poller {
    private val q = new ConcurrentLinkedQueue[Message]()
    msgs.foreach(q.add)
    def offer(m: Message): Unit = q.add(m)
    def poll(max: Int): Seq[Message] =
      Iterator.continually(q.poll()).takeWhile(_ != null).take(max).toVector
  }

  test("codec: every field decodes to the row the message-object reader built") {
    // the reference conversion is the one the source used before blocks:
    // UTF8String.fromString per string, ArrayBasedMapData(map) per map.
    // "a\uD800b" holds an unpaired surrogate, which UTF-8 encodes as '?'
    val msgs = awkward :+ Message("a\uD800b", utf8("x"), "\uDC00", Map("\uD83D" -> "k"))
    val rows = decode(PolledBlock.encode(msgs.toIndexedSeq, 0, msgs.size))
    assert(rows.size == msgs.size)
    rows.zip(msgs).foreach { case (r, m) =>
      assert(r.getUTF8String(0) == UTF8String.fromString(m.key), s"key ${m.key}")
      assert(r.isNullAt(1) == (m.value == null))
      if (m.value != null) assert(r.getBinary(1).toSeq == m.value.toSeq, s"key ${m.key}")
      assert(r.getUTF8String(2) == UTF8String.fromString(m.topic), s"key ${m.key}")
      assert(r.isNullAt(3) == (m.attributes == null))
      if (m.attributes != null) {
        val want = ArrayBasedMapData(m.attributes,
          (k: Any) => UTF8String.fromString(k.asInstanceOf[String]),
          (v: Any) => UTF8String.fromString(v.asInstanceOf[String]))
        // same pairs in the same order, not only the same map
        assert(strings(r.getMap(3)) == strings(want), s"key ${m.key}")
      }
    }
    assert(rows(5).getUTF8String(0).toString == "a?b")
  }

  test("codec: awkward messages round-trip through a real stream and batch mode") {
    val poller = new QueuePoller(awkward)
    val src = PolledSource(poller, batchSize = 100)
    val q = core.Pipeline.from(src).start(spark, Sinks.MemorySink("polled_codec_out"))
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    val got = spark.table("polled_codec_out").collect().map(norm).toSet
    assert(got == awkward.map(norm).toSet)
    src.close()

    val batchSrc = PolledSource(new QueuePoller(awkward), batchSize = 2)
    assert(batchSrc.batch(spark).collect().map(norm).toSet == awkward.map(norm).toSet)
    batchSrc.close()
  }

  test("codec: a batch with fewer rows than defaultParallelism, and an empty range") {
    val k = spark.sparkContext.defaultParallelism
    assert(k > 2)
    val two = awkward.take(2)
    // one partition per row, never an empty block
    val parts = PolledBlock.split(two.toIndexedSeq, 0, 2, k)
    assert(parts.map(_.rows).toSeq == Seq(1, 1))
    assert(parts.flatMap(decode).map(_.getUTF8String(0)).toSeq ==
      two.map(m => UTF8String.fromString(m.key)))
    assert(PolledBlock.split(two.toIndexedSeq, 1, 1, k).isEmpty)

    val poller = new QueuePoller(two)
    val src = PolledSource(poller, batchSize = 100)
    val q = core.Pipeline.from(src).start(spark, Sinks.MemorySink("polled_codec_small"))
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    assert(spark.table("polled_codec_small").collect().map(norm).toSet == two.map(norm).toSet)

    val stream = new PolledMicroBatchStream(src.pollerId, 100)
    assert(stream.planInputPartitions(PollOffset(2), PollOffset(2)).isEmpty)
    assert(stream.planInputPartitions(PollOffset(2), PollOffset(1)).isEmpty)
    src.close()
  }

  test("codec: a replanned or multi-poll range is encoded from the buffer") {
    spark // the split reads defaultParallelism from the running context
    val msgs = Seq.tabulate(9)(i => Message.ofString(s"k$i", s"v$i", "t"))
    val id = PollerRegistry.register(new QueuePoller(msgs))
    try {
      val stream = new PolledMicroBatchStream(id, 3)
      def keys(s: Long, e: Long): Seq[String] =
        stream.planInputPartitions(PollOffset(s), PollOffset(e)).toSeq
          .flatMap(p => decode(p.asInstanceOf[PolledPartition])).map(_.getUTF8String(0).toString)
      assert(stream.latestOffset() == PollOffset(3))
      assert(stream.latestOffset() == PollOffset(6))
      assert(keys(0, 6) == msgs.take(6).map(_.key)) // spans two polls
      assert(keys(3, 6) == msgs.slice(3, 6).map(_.key)) // the last poll's
      assert(keys(3, 6) == msgs.slice(3, 6).map(_.key)) // replanned
      stream.commit(PollOffset(3))
      assert(keys(3, 6) == msgs.slice(3, 6).map(_.key))
      assert(intercept[IllegalArgumentException](keys(0, 3)).getMessage
        .contains("below committed horizon"))
    } finally PollerRegistry.unregister(id)
  }

  test("codec: a partition serializes as its block, not as one object per message") {
    // 1,000 event_ingest-shaped messages: numeric key, ~100-byte JSON value,
    // one topic, no attributes
    val rnd = new scala.util.Random(11)
    val msgs = Vector.tabulate(1000) { i =>
      val id = 1000000L + rnd.nextInt(1 << 20)
      Message(id.toString,
        utf8(f"""{"event_id":$id,"ts":${1700000000000L + i},"kind":"click","user":${rnd.nextInt(5000)},"value":${rnd.nextDouble()}%.6f}"""),
        "events", Map.empty)
    }
    val p = PolledBlock.encode(msgs, 0, msgs.size)
    val payload = msgs.map(m => m.key.length + m.value.length + m.topic.length).sum
    // four int32 length fields per message
    assert(p.block.length == payload + 16 * msgs.size)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(p)
    oos.close()
    assert(bos.size() <= p.block.length + 256,
      s"${bos.size()} serialized bytes for a ${p.block.length}-byte block")
  }
}
