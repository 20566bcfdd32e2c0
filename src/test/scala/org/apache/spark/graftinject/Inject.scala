package org.apache.spark.graftinject

import org.apache.spark.shuffle.FetchFailedException

/** Test-only escape hatch: FetchFailedException is private[spark], so the
  * fault-injection spec reaches it through this org.apache.spark-namespace
  * shim — the same pattern the reference's Spark integration uses for its
  * shuffle classes (client-spark lives under org.apache.spark.shuffle.celeborn).
  */
/** Test-only reach into Spark's private[spark] shuffle compression codecs
  * (org.apache.spark.io.CompressionCodec) — the transport codecs behind
  * spark.shuffle.compress / spark.shuffle.spill.compress, which are
  * context-static and therefore proven at unit level in CodecSpec. */
object ShuffleCodecs {
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

  def roundTrip(name: String, data: Array[Byte]): Array[Byte] = {
    val codec = org.apache.spark.io.CompressionCodec.createCodec(
      new org.apache.spark.SparkConf(false), name)
    val bos = new ByteArrayOutputStream()
    val os = codec.compressedOutputStream(bos)
    os.write(data); os.close()
    val is = codec.compressedInputStream(new ByteArrayInputStream(bos.toByteArray))
    try is.readAllBytes() finally is.close()
  }

  def compress(name: String, data: Array[Byte]): Array[Byte] = {
    val codec = org.apache.spark.io.CompressionCodec.createCodec(
      new org.apache.spark.SparkConf(false), name)
    val bos = new ByteArrayOutputStream()
    val os = codec.compressedOutputStream(bos)
    os.write(data); os.close()
    bos.toByteArray
  }

  def decompress(name: String, data: Array[Byte]): Array[Byte] = {
    val codec = org.apache.spark.io.CompressionCodec.createCodec(
      new org.apache.spark.SparkConf(false), name)
    val is = codec.compressedInputStream(new ByteArrayInputStream(data))
    try is.readAllBytes() finally is.close()
  }
}

/** Test-only reach into Spark's private[spark] I/O encryption layer
  * (org.apache.spark.security.CryptoStreamUtils) — the machinery behind
  * spark.io.encryption.enabled, which is context-static and therefore
  * proven at unit level in CodecSpec, like the transport codecs above.
  * Maps the reference's AES push-payload encryption
  * (celeborn: client-spark/common/.../SparkCryptoHandler.java). */
object ShuffleCrypto {
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
  import org.apache.spark.SparkConf
  import org.apache.spark.security.CryptoStreamUtils

  def conf(): SparkConf = new SparkConf(false)
    .set("spark.io.encryption.enabled", "true")

  def createKey(c: SparkConf): Array[Byte] = CryptoStreamUtils.createKey(c)

  def encrypt(c: SparkConf, key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val os = CryptoStreamUtils.createCryptoOutputStream(bos, c, key)
    os.write(data); os.close()
    bos.toByteArray
  }

  def decrypt(c: SparkConf, key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val is = CryptoStreamUtils.createCryptoInputStream(
      new ByteArrayInputStream(data), c, key)
    try is.readAllBytes() finally is.close()
  }
}

object Inject {
  /** Throw a fetch failure for a REAL shuffle id (a made-up id crashes the
    * DAGScheduler's event loop: shuffleIdToMapStage lookup fails). A null
    * block-manager address is the "unknown location" form — the scheduler
    * resubmits the map stage without unregistering outputs. */
  def fetchFailed(shuffleId: Int, reduceId: Int, msg: String): Nothing =
    throw new FetchFailedException(null, shuffleId, 0L, 0, reduceId, msg, null)
}

/** Test-only reach into the private[spark] BlockManagerMaster: the
  * executor-loss differential must make an RDD's cached blocks VANISH
  * mid-job (what losing an executor does to localCheckpoint data) —
  * local mode shares one JVM, so the storage layer is the only place
  * the failure can be produced authentically. */
object BlockLoss {
  /** Drop every cached block of the given RDD ids, cluster-wide. */
  def removeRdds(sc: org.apache.spark.SparkContext, ids: Iterable[Int]): Unit =
    ids.foreach(id => sc.env.blockManager.master.removeRdd(id, blocking = true))
}
