package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Multimodal column plumbing: image/audio/video ride along as opaque
 * `binary` payloads with typed metadata. The media codecs are not shipped;
 * the features are deterministic functions of the raw bytes.
 */
object Multimodal {

  /** per-payload features as pure COLUMN EXPRESSIONS — size and head
    * byte via built-ins, the checksum via the codegen'd byte-fold
    * [[PortableHashBytes]] (fold of byte values mod 2^31-1) — so the stage
    * fuses into WholeStageCodegen instead of paying a SerializeFromObject /
    * mapPartitions hop per row (Round3Spec pins the plan and the equality
    * with the mapPartitions stub extractor its oracle keeps). */
  def mediaFeatureColumns(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    val p = col(payloadCol)
    df.select(
      col(idCol).cast("long").as("id"),
      length(p).cast("long").as("n_bytes"),
      when(length(p) === 0, lit(-1L))
        .otherwise(conv(hex(substring(p, 1, 1)), 16, 10).cast("long")).as("head_byte"),
      column(PortableHashBytes(expression(p))).as("checksum"))
  }
}
