package graft.spark

import org.apache.spark.sql.types.{DataType, DateType, StructType, TimestampNTZType, TimestampType}

/**
 * Time-descriptor inference — the reference's TimeDescriptors /
 * TimeDescriptorConfiguration.configureFromType (extensions/adapters/
 * vector/.../utils/TimeDescriptors.java:150-285): given a feature schema,
 * discover which temporal attribute(s) drive the temporal index. Field
 * METADATA hints (`time` / `start` / `end` boolean keys — the reference's
 * attribute user data) take precedence; otherwise, scanning fields in
 * declaration order, the first temporal field whose lower-cased name
 * starts with "start" becomes the range start, the first starting with
 * "end" becomes the range end, and the first other temporal field becomes
 * the single time field. Post-pass exactly as the reference: a complete
 * start+end pair clears the single field (ranges win over instants); a
 * lone start or end degrades to a single time field.
 */
object TimeDescriptors {

  sealed trait Descriptor
  /** one instant attribute drives the index. */
  final case class SingleTime(time: String) extends Descriptor
  /** a [start, end] attribute pair drives the index. */
  final case class RangeTime(start: String, end: String) extends Descriptor
  case object NoTime extends Descriptor

  private def isTemporal(dt: DataType): Boolean = dt match {
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  def infer(schema: StructType): Descriptor = {
    var timeName: Option[String] = None
    var startName: Option[String] = None
    var endName: Option[String] = None
    var break = false
    for (f <- schema.fields if !break && isTemporal(f.dataType)) {
      val md = f.metadata
      val isTime = if (md.contains("time")) Some(md.getBoolean("time")) else None
      val isStart = if (md.contains("start")) Some(md.getBoolean("start")) else None
      val isEnd = if (md.contains("end")) Some(md.getBoolean("end")) else None
      val lower = f.name.toLowerCase
      if (isTime.contains(true)) {
        // an explicit time hint wins outright and stops the scan
        timeName = Some(f.name); startName = None; endName = None; break = true
      } else if (isStart.contains(true)) {
        startName = Some(f.name)
      } else if (isStart.isEmpty && startName.isEmpty && lower.startsWith("start")) {
        startName = Some(f.name)
      } else if (isEnd.contains(true)) {
        endName = Some(f.name)
      } else if (isEnd.isEmpty && endName.isEmpty && lower.startsWith("end")) {
        endName = Some(f.name)
      } else if (isTime.isEmpty && timeName.isEmpty) {
        timeName = Some(f.name)
      }
    }
    // the reference's reconciliation pass, verbatim
    (startName, endName) match {
      case (Some(s), Some(e)) => RangeTime(s, e)
      case (Some(s), None) => SingleTime(timeName.getOrElse(s))
      case (None, Some(e)) => SingleTime(timeName.getOrElse(e))
      case (None, None) => timeName.map(SingleTime.apply).getOrElse(NoTime)
    }
  }
}
