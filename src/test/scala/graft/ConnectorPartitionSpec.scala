package graft

import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.SparkConf
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.connector._

/** The `graft-connector` micro-batch wire form: a [[ConnectorPartition]]
  * survives Spark's Java serialization and reads back, through
  * [[ConnectorReaderFactory]], as exactly the rows the senders sent, and
  * its serialized size stays at the columnar floor (24 B per row plus the
  * key and value bytes), so per-row objects cannot creep back in.
  */
class ConnectorPartitionSpec extends AnyFunSuite {
  private type Row = (Long, Long, Long, Option[Seq[Byte]], Option[Seq[Byte]])

  private val ser = new JavaSerializer(new SparkConf()).newInstance()

  private def shipped(p: InputPartition): (InputPartition, Int) = {
    val buf = ser.serialize(p)
    val size = buf.remaining()
    (ser.deserialize[InputPartition](buf), size)
  }

  private def read(p: InputPartition): Vector[Row] = {
    val r = ConnectorReaderFactory.createReader(p)
    val out = Vector.newBuilder[Row]
    try while (r.next()) {
      val row = r.get()
      def bin(i: Int) =
        if (row.isNullAt(i)) None else Some(row.getBinary(i).toSeq)
      out += ((row.getLong(0), row.getLong(1), row.getLong(2), bin(3), bin(4)))
    } finally r.close()
    out.result()
  }

  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("Java serialization round-trip: null key, empty value, multi-byte UTF-8, extreme ids") {
    val rows = Seq[(Long, Long, Array[Byte], Array[Byte])](
      (Long.MinValue, Long.MinValue, utf8("min"), utf8("first")),
      (-1L, 0L, null, utf8("null key")),
      (0L, Long.MaxValue, utf8("empty value"), Array.emptyByteArray),
      (1L, -1L, utf8("ключ"), utf8("значение · 値 · 🚀")),
      (2L, 42L, null, null),
      (Long.MaxValue, 7L, Array.emptyByteArray, utf8("empty key")))
    val b = new ConnectorPartition.Builder(Long.MaxValue)
    rows.foreach { case (mid, et, k, v) => b.add(mid, et, k, v) }
    val p = b.result()
    val expected = rows.map { case (mid, et, k, v) =>
      (Long.MaxValue, mid, et, Option(k).map(_.toSeq), Option(v).map(_.toSeq))
    }.toVector
    val (back, _) = shipped(p)
    assert(read(back) == expected)
    assert(read(p) == expected, "the driver-side copy reads the same")
    assert(read(new ConnectorPartition.Builder(3L).result()).isEmpty)
  }

  test("the driver slice: out-of-order and re-sent messages come out once, in message-id order") {
    val ckpt = Files.createTempDirectory("connector_partition_ckpt")
      .resolve("sources").resolve("0")
    val stream = new ConnectorMicroBatchStream(new CaseInsensitiveStringMap(
      java.util.Map.of("port", "0", "name", "partition_spec")), ckpt.toString)
    val sid = 9L
    val sent = Seq[(Long, Long, Array[Byte], Array[Byte])](
      (Long.MaxValue, Long.MinValue, utf8("k-max"), utf8("last")),
      (0L, 0L, null, utf8("null key")),
      (5L, Long.MaxValue, utf8("null value"), null),
      (7L, -1L, utf8("ключ"), utf8("значение · 値 · 🚀")),
      (3L, 42L, utf8("three"), utf8("3")),
      (5L, Long.MaxValue, utf8("null value"), null)) // re-sent
    val socket = new Socket("localhost",
      ConnectorRegistry.port("partition_spec").get)
    try {
      val out = socket.getOutputStream
      val in = socket.getInputStream
      Wire.writeFrame(out, Wire.Hello("0.0.1", "", "app", "w"))
      assert(Wire.readFrame(in).exists(_.isInstanceOf[Wire.Ok]))
      Wire.writeFrame(out, Wire.Notify(sid, "s", Wire.PorUnknown))
      assert(Wire.readFrame(in).exists(_.isInstanceOf[Wire.NotifyAck]))
      sent.foreach { case (mid, et, k, v) =>
        Wire.writeFrame(out, Wire.Message(sid, mid, et, k, v))
      }
      // the last frame is an already-buffered id, so once a probe sent
      // after it is in, every message is; Notify answers only when read
      Wire.writeFrame(out, Wire.Notify(sid, "s", Wire.PorUnknown))
      assert(Wire.readFrame(in).exists(_.isInstanceOf[Wire.NotifyAck]))
      val end = stream.latestOffset()
      assert(end.asInstanceOf[ConnectorOffset].pors == Map(sid -> Long.MaxValue))
      val expected = sent.distinctBy(_._1).sortBy(_._1).map {
        case (mid, et, k, v) =>
          (sid, mid, et, Option(k).map(_.toSeq), Option(v).map(_.toSeq))
      }.toVector
      val all = stream.planInputPartitions(stream.initialOffset(), end)
      assert(all.length == 1, "one partition per stream")
      assert(read(shipped(all.head)._1) == expected)
      // the start offset is exclusive, the end inclusive
      val tail = stream.planInputPartitions(
        ConnectorOffset.parse(s"""{"$sid":3}"""), end)
      assert(read(shipped(tail.head)._1) == expected.filter(_._2 > 3))
    } finally {
      socket.close()
      stream.stop()
    }
  }

  test("serialized size of a full credit window is 24 B/row over the payload") {
    val rows = 65536 // the default credit window
    val b = new ConnectorPartition.Builder(1L)
    var payload = 0L
    (0 until rows).foreach { i =>
      val key = utf8(s"user-${i % 1500}")
      val value = utf8(s"${i % 1500},${i * 7L},${1700000000000L + i}")
      payload += key.length + value.length
      b.add(i.toLong, 1700000000L + i / 100, key, value)
    }
    val p = b.result()
    val (back, size) = shipped(p)
    val bound = payload + 24L * rows + 4096
    assert(size <= bound, s"serialized $size B > bound $bound B")
    val got = read(back)
    assert(got.length == rows)
    assert(got(12345) == ((1L, 12345L, 1700000000L + 123,
      Some(utf8(s"user-${12345 % 1500}").toSeq),
      Some(utf8(s"${12345 % 1500},${12345 * 7L},${1700000000000L + 12345}").toSeq))))
  }
}
