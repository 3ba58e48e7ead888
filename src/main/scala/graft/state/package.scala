package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object state {
  /** Former name of [[DiskBackingMap]], kept only so that code written
    * against it (the `stormbench` state-ingest workload) still compiles. */
  type ParquetBackingMap[T] = DiskBackingMap[T]

  object ParquetBackingMap {
    def open[T](spark: SparkSession, path: String,
        codec: DiskBackingMap.Codec): DiskBackingMap[T] =
      DiskBackingMap.open[T](path, codec)
    def close(path: String): Unit = DiskBackingMap.close(path)
    def readAsDF(spark: SparkSession, path: String): DataFrame =
      DiskBackingMap.readAsDF(spark, path)
    val opaqueCodec: DiskBackingMap.Codec = DiskBackingMap.opaqueCodec
  }
}
