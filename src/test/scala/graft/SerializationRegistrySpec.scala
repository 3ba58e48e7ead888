package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.state._
import graft.state.ParquetBackingMap.Codec

/** The `Config.registerSerialization` analog (`Config.java:860-875` →
  * `SerializationFactory.java:80-104`): custom value classes get a
  * registered wire codec, unregistered ones fail loudly unless the
  * java-serialization fallback is enabled (`Config.java:652`). */
object SerializationRegistrySpec {
  // top-level so java serialization doesn't drag the (non-serializable)
  // suite instance in as the case class's outer pointer
  case class WordStats(count: Long, longest: String)
}

class SerializationRegistrySpec extends AnyFunSuite {
  import SerializationRegistrySpec.WordStats

  private def upd(f: Option[WordStats] => WordStats) = new ValueUpdater[WordStats] {
    def update(stored: Option[WordStats]): WordStats = f(stored)
  }

  private val wordStatsCodec = Codec(
    v => { val w = v.asInstanceOf[WordStats]; s"${w.count}|${w.longest}" },
    s => { val i = s.indexOf('|'); WordStats(s.substring(0, i).toLong, s.substring(i + 1)) })

  test("registered codec round-trips a custom value class through the durable store") {
    lazy val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SerializationRegistry.register(classOf[WordStats],
      SerializationRegistry.opaque(wordStatsCodec))
    val dir = java.nio.file.Files.createTempDirectory("graft-reg").toString
    try {
      val m1 = new OpaqueMap[WordStats](
        SerializationRegistry.openRegistered[OpaqueValue[WordStats]](
          spark, dir, classOf[WordStats], compactAfter = 1))
      val k = Seq(Seq[Any]("cats"))
      m1.beginCommit(Some(0L))
      m1.multiUpdate(k, Seq(upd(
        old => old.getOrElse(WordStats(0, "")).copy(count = 3, longest = "purring"))))
      m1.commit(Some(0L))

      // process restart: value must decode through the registered codec
      ParquetBackingMap.close(dir)
      val m2 = new OpaqueMap[WordStats](
        SerializationRegistry.openRegistered[OpaqueValue[WordStats]](
          spark, dir, classOf[WordStats], compactAfter = 64))
      assert(m2.multiGet(Seq(k.head)) == Seq(Some(WordStats(3, "purring"))))

      // opaque replay of txid 0 rolls back to prev (none) before re-applying
      m2.beginCommit(Some(0L))
      val replayed = m2.multiUpdate(k, Seq(upd(
        old => { assert(old.isEmpty); WordStats(1, "hiss") })))
      m2.commit(Some(0L))
      assert(replayed == Seq(WordStats(1, "hiss")))
    } finally {
      SerializationRegistry.unregister(classOf[WordStats])
      ParquetBackingMap.close(dir)
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("unregistered class fails loudly; java fallback is opt-in and round-trips") {
    val ex = intercept[IllegalArgumentException](
      SerializationRegistry.resolve(classOf[WordStats]))
    assert(ex.getMessage.contains("WordStats"))

    SerializationRegistry.fallBackOnJavaSerialization(true)
    try {
      val codec = SerializationRegistry.resolve(classOf[WordStats])
      val v = WordStats(42, "antidisestablishmentarianism")
      assert(codec.decode(codec.encode(v)) == v)
      // the fallback also nests under the exactly-once wrappers
      val opq = SerializationRegistry.opaque(codec)
      val wrapped = OpaqueValue[Any](7L, v, Some(WordStats(1, "x")))
      assert(opq.decode(opq.encode(wrapped)) == wrapped)
    } finally SerializationRegistry.fallBackOnJavaSerialization(false)
  }

  test("transactional nesting keeps txid outside the inner payload") {
    val codec = SerializationRegistry.transactional(wordStatsCodec)
    val v = TransactionalValue[Any](9L, WordStats(5, "with|pipe"))
    assert(codec.decode(codec.encode(v)) == v)
  }

  test("binaryEncoder carries a non-product class through a typed Dataset") {
    lazy val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    implicit val enc = SerializationRegistry.binaryEncoder(classOf[java.util.ArrayList[String]])
    val a = new java.util.ArrayList[String](); a.add("x"); a.add("y")
    val ds = spark.createDataset(Seq(a))
    assert(ds.schema.fields.map(_.dataType.typeName).toSeq == Seq("binary"))
    assert(ds.collect().head.get(1) == "y")
  }
}
