package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * The mapPartitions stub feature extractor: the object-mode oracle that
 * `Multimodal.mediaFeatureColumns` must equal. It derives deterministic
 * pseudo-features from the raw bytes, one row per payload, batched per
 * partition.
 */
object MediaStub {

  /** per-payload features; `vec` stands in for an embedding. */
  final case class MediaFeatures(id: Long, nBytes: Long, headByte: Int,
                                 checksum: Long, vec: Array[Float])

  /** portable-hash checksum (fold of byte values mod 2^31-1, matching
    * TextOps.portableHash on ASCII payloads) + an 8-dim fake embedding
    * from byte samples. */
  def extract(id: Long, payload: Array[Byte]): MediaFeatures = {
    var acc = 0L
    var i = 0
    while (i < payload.length) { acc = (acc * 31 + (payload(i) & 0xff)) % 2147483647L; i += 1 }
    val vec = Array.tabulate(8) { d =>
      if (payload.isEmpty) 0f
      else (payload(d * payload.length / 8) & 0xff).toFloat / 255f
    }
    MediaFeatures(id, payload.length.toLong,
      if (payload.isEmpty) -1 else payload(0) & 0xff, acc, vec)
  }

  /** payload column → feature rows, batched per partition. */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it => it.map { case (id, p) => extract(id, p) } }
  }
}
