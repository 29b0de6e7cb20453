package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream,
  ObjectOutputStream}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.util.SerializableConfiguration
import graft.streaming.{Sources, StreamPipeline}
import graft.util.Sessions
import scala.jdk.CollectionConverters._

/** The session ships its Hadoop conf without Hadoop's per-key source
  * map ([[Sessions.dropSourceMaps]]): same keys and values, no
  * compressed source array per key. */
class SessionsSpec extends SparkSpec {

  private def entries(conf: Configuration): Map[String, String] =
    conf.asScala.map(e => e.getKey -> e.getValue).toMap

  /** The Java serialization Spark gives a conf it broadcasts or puts in
    * a task binary. */
  private def serialized(conf: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(conf))
    out.close()
    bytes.toByteArray
  }

  private def deserialized(bytes: Array[Byte]): Configuration =
    new ObjectInputStream(new ByteArrayInputStream(bytes)).readObject()
      .asInstanceOf[SerializableConfiguration].value

  test("dropSourceMap keeps every key and value, through a SerializableConfiguration round trip") {
    val tracked = new Configuration()
    val lean = new Configuration()
    Sessions.dropSourceMap(lean)
    assert(entries(tracked).size > 300, "core-default.xml did not load")
    assert(entries(lean) === entries(tracked))
    assert(tracked.getPropertySources("fs.defaultFS").contains("core-default.xml"))
    assert(lean.getPropertySources("fs.defaultFS") === null)

    val bytes = serialized(lean)
    assert(entries(deserialized(bytes)) === entries(tracked))
    assert(bytes.length < serialized(tracked).length)
  }

  test("the session's Hadoop confs ship no *-default.xml source, after a read, a write and a trigger") {
    /** No key of a shipped base conf names a default resource as its
      * source: a round trip restores whatever source array was sent. */
    def assertLean(stage: String): Unit = Seq(
      "newHadoopConf" -> spark.sessionState.newHadoopConf(),
      "sparkContext" -> spark.sparkContext.hadoopConfiguration).foreach {
      case (name, conf) =>
        val shipped = deserialized(serialized(conf))
        val tracked = entries(shipped).keys.filter { k =>
          Option(shipped.getPropertySources(k)).exists(_.exists(_.endsWith("-default.xml")))
        }
        if (tracked.nonEmpty) fail(s"$name after $stage ships sources for " +
          s"${tracked.size} keys, ${tracked.toSeq.sorted.take(5).mkString(", ")}")
    }

    val dir = Files.createTempDirectory("graft_sessions_conf")
    val tmp = dir.toString
    try {
      val txn = """{"transaction_id":"T1","account_id":"ACC1","transaction_type":"deposit",""" +
        """"amount":12.5,"currency":"USD","timestamp":"2024-01-01T10:05:00","status":"completed"}"""
      Files.createDirectories(Paths.get(s"$tmp/in"))
      Files.write(Paths.get(s"$tmp/in/drop_0.json"), Seq(txn).asJava)
      assertLean("session build")

      val read = spark.read.json(s"$tmp/in")
      assert(read.count() === 1)
      assertLean("a JSON read")

      read.write.parquet(s"$tmp/out")
      assertLean("a parquet write")

      val dual = Sources.dualSinkQuery(
        StreamPipeline.enrich(StreamPipeline.typed(Sources.jsonDirReader(spark, s"$tmp/in"))),
        s"$tmp/main", s"$tmp/dead", s"$tmp/ckpt")
      try dual.processAllAvailable()
      finally dual.stop()
      assert(spark.read.parquet(s"$tmp/main").count() === 1)
      assertLean("a streaming trigger")
    } finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }
}
