package graft.state

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.util.Base64
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Encoder, Encoders}

import graft.state.DiskBackingMap.Codec

/** Custom value-serializer registration — the analog of the reference's
  * `Config.registerSerialization`
  * (`storm-core/src/jvm/backtype/storm/Config.java:860-875`) feeding
  * `SerializationFactory.getKryo`
  * (`storm-core/src/jvm/backtype/storm/serialization/SerializationFactory.java:80-104`),
  * including the opt-in java-serialization fallback for unregistered types
  * (`Config.java:652` `topology.fall.back.on.java.serialization`).
  *
  * Spark-native mapping: IN-PLAN values ride Tungsten row formats and
  * encoders — there is nothing for a user to register on that path, which
  * is the point of the DataFrame tier. The surface that still needs custom
  * wire formats is STATE values crossing into external key-value stores
  * through [[IBackingMap]] (the reference hits the same boundary when
  * MapState values leave the JVM for Cassandra/Memcached). A [[Codec]]
  * maps a value class to a string wire form; [[DiskBackingMap]] — and
  * any user store — resolves unknown value classes here before giving up.
  *
  * For typed `Dataset[T]` work on classes without product encoders,
  * [[binaryEncoder]] surfaces Spark's generic binary encoder — the
  * in-plan escape hatch closest to the reference's Kryo tuple fields.
  */
object SerializationRegistry {

  private val registry = TrieMap[Class[_], Codec]()
  @volatile private var javaFallback = false

  /** `Config.registerSerialization(conf, klass, serializerClass)` analog:
    * values of exactly `klass` (no subclass walk — same exact-class rule as
    * Kryo registration) encode through `codec` in any store that resolves
    * via [[resolve]]. */
  def register(klass: Class[_], codec: Codec): Unit = registry.put(klass, codec)

  def unregister(klass: Class[_]): Unit = registry.remove(klass)

  /** `topology.fall.back.on.java.serialization` analog — OFF by default,
    * exactly like the reference's recommendation for production topologies
    * (an unregistered type should be a loud error, not a silently slow and
    * version-fragile java-serialized blob). */
  def fallBackOnJavaSerialization(enable: Boolean): Unit = { javaFallback = enable }

  def codecFor(klass: Class[_]): Option[Codec] = registry.get(klass)

  /** Resolution order: exact registration → java fallback (if enabled) →
    * error naming the class, mirroring Kryo's setRegistrationRequired
    * failure mode. */
  def resolve(klass: Class[_]): Codec =
    codecFor(klass).getOrElse {
      if (javaFallback) javaSerializationCodec
      else throw new IllegalArgumentException(
        s"no codec registered for ${klass.getName}; register one via " +
          "SerializationRegistry.register or enable fallBackOnJavaSerialization")
    }

  /** Java serialization ↔ base64 — the `SerializableSerializer` analog.
    * Self-describing, so one codec instance covers every Serializable
    * class; slow and version-fragile, hence opt-in. */
  val javaSerializationCodec: Codec = Codec(
    v => {
      val bos = new ByteArrayOutputStream()
      val oos = new ObjectOutputStream(bos)
      try { oos.writeObject(v); oos.flush() } finally oos.close()
      Base64.getEncoder.encodeToString(bos.toByteArray)
    },
    s => {
      val ois = new ObjectInputStream(
        new ByteArrayInputStream(Base64.getDecoder.decode(s)))
      try ois.readObject() finally ois.close()
    })

  /** Lift an inner value codec into the exactly-once wrappers' wire
    * shapes, so custom value types work under Opaque/Transactional tiers
    * (the reference nests the same way: JSONOpaqueSerializer wraps the
    * value payload in `[currTxid, curr, prev]`). The inner-encoded value
    * rides as a JSON string field; null prev = none, with the same
    * "null is not a storable committed value" caveat as the scalar tier. */
  def opaque(inner: Codec): Codec = Codec(
    v => {
      val o = v.asInstanceOf[OpaqueValue[Any]]
      val prev = o.prev.map(p => StateSerializers.writeScalar(inner.encode(p))).getOrElse("null")
      s"[${o.currTxid},${StateSerializers.writeScalar(inner.encode(o.curr))},$prev]"
    },
    s => {
      val Vector(txid, curr, prev) = StateSerializers.readScalars(s)
      OpaqueValue(txid.asInstanceOf[Long], inner.decode(curr.asInstanceOf[String]),
        Option(prev).map(p => inner.decode(p.asInstanceOf[String])))
    })

  def transactional(inner: Codec): Codec = Codec(
    v => {
      val t = v.asInstanceOf[TransactionalValue[Any]]
      s"[${t.txid},${StateSerializers.writeScalar(inner.encode(t.value))}]"
    },
    s => {
      val Vector(txid, value) = StateSerializers.readScalars(s)
      TransactionalValue(txid.asInstanceOf[Long], inner.decode(value.asInstanceOf[String]))
    })

  /** Open a durable [[DiskBackingMap]] whose value codec comes from
    * this registry — `open(classOf[MyValue], ...)` is the store-side
    * mirror of `Config.registerSerialization(MyValue.class, ...)`. */
  def openRegistered[T](path: String, valueClass: Class[_],
      compactAfter: Int = 64): DiskBackingMap[T] =
    DiskBackingMap.open[T](path, resolve(valueClass), compactAfter = compactAfter)

  /** Spark's generic binary encoder for a class with no product encoder —
    * the typed-Dataset escape hatch analogous to the reference carrying
    * arbitrary registered types in tuple fields. Values become opaque
    * `binary` columns: fine for carry-through, useless for predicates or
    * codegen — prefer case classes (product encoders) wherever possible. */
  def binaryEncoder[T](klass: Class[T]): Encoder[T] = Encoders.kryo(klass)
}
