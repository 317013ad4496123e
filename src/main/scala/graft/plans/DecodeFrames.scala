package graft.plans

import graft.etl.{DecodedFrame, EncodedFrame, RtcmPipeline}
import graft.rtcm.RtcmFraming
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-frame RTCM decode as a plan node (custom-operator ladder (c),
  * like [[AsOfMergeLogical]]): each frame of the child's rows goes
  * through `RtcmPipeline.decodeOne`, and the result is written as one
  * `DecodedFrame`-schema row straight into Spark's row format.
  * A `Dataset.map(decodeOne)` would instead run the generated object
  * serializer over every nested observation of every frame.
  *
  * `mountPoint`, `receiveMicros` and `frame` are the child's columns of
  * those names; `output` is a fresh attribute per field of
  * [[DecodeFrames.Schema]]. Each `frame` value holds whole frames back
  * to back — one for `frameChunks`/`frameStream` rows, any number for
  * the NTRIP source's chunks — and `RtcmFraming.splitPacked` splits
  * it in the same task: one output row per frame, no shuffle.
  */
case class DecodeFrames(
    mountPoint: Attribute,
    receiveMicros: Attribute,
    frame: Attribute,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): DecodeFrames =
    copy(child = newChild)
}

object DecodeFrames {
  /** The node's output schema: exactly the `DecodedFrame` encoder's. */
  val Schema: StructType = Encoders.product[DecodedFrame].schema

  /** Decode node over `frames`, whose `EncodedFrame` columns are bound
    * by name. */
  def over(frames: LogicalPlan): DecodeFrames = {
    def in(name: String): Attribute = frames.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"DecodeFrames input lacks column $name"))
    DecodeFrames(in("mountPoint"), in("receiveMicros"), in("frame"),
      DataTypeUtils.toAttributes(Schema), frames)
  }
}

/** Plans [[DecodeFrames]]; registered through GraftExtensions and
  * self-healed into `spark.experimental.extraStrategies` by
  * `RtcmPipeline.decode`, so the node works in any session. */
object DecodeFramesStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case d: DecodeFrames =>
      DecodeFramesExec(d.mountPoint, d.receiveMicros, d.frame, d.output, planLater(d.child)) :: Nil
    case _ => Nil
  }
}

case class DecodeFramesExec(
    mountPoint: Attribute,
    receiveMicros: Attribute,
    frame: Attribute,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the child's partition count, but none of its partitioning keys
  // survive into the output
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)

  protected override def doExecute(): RDD[InternalRow] = {
    val Seq(mountOrd, microsOrd, frameOrd) = Seq(mountPoint, receiveMicros, frame)
      .map(a => child.output.indexWhere(_.exprId == a.exprId))
    child.execute().mapPartitions { rows =>
      val writer = new DecodedRowWriter
      val mounts = new java.util.HashMap[UTF8String, String]()
      rows.flatMap { r =>
        val m = r.getUTF8String(mountOrd)
        var mount = mounts.get(m)
        if (mount == null) { mount = m.toString; mounts.put(m.clone(), mount) }
        val micros = r.getLong(microsOrd)
        RtcmFraming.splitPacked(r.getBinary(frameOrd)).map(f => writer.write(RtcmPipeline.decodeOne(EncodedFrame(mount, micros, f))))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DecodeFramesExec =
    copy(child = newChild)
}

/** Writes `DecodedFrame`s as rows of [[DecodeFrames.Schema]] through one
  * `UnsafeProjection`. Fields are set in `DecodedFrame`'s declaration
  * order; the staging rows are reused, since the projection copies them
  * into its own buffer. Strings of the small vocabularies (mountpoint,
  * constellation, satellite id, signal) are converted once per task.
  * One writer per task: it is not thread-safe. */
private final class DecodedRowWriter {
  private val schema = DecodeFrames.Schema
  private val obsType = schema("observations").dataType.asInstanceOf[ArrayType]
    .elementType.asInstanceOf[StructType]
  private val coordType = schema("coordinates").dataType.asInstanceOf[StructType]
  private val row = new SpecificInternalRow(schema.map(_.dataType))
  private val coord = new SpecificInternalRow(coordType.map(_.dataType))
  private var obsRows = new Array[SpecificInternalRow](0)
  private val project = UnsafeProjection.create(schema)
  private val strings = new java.util.HashMap[String, UTF8String]()

  private def utf8(s: String): UTF8String = {
    var u = strings.get(s)
    if (u == null) { u = UTF8String.fromString(s); strings.put(s, u) }
    u
  }

  def write(f: DecodedFrame): InternalRow = {
    row.setLong(0, f.rtcm_package_id)
    row.update(1, utf8(f.mountpoint))
    row.setLong(2, f.receive_micros)
    row.setInt(3, f.rtcm_msg_type)
    row.setInt(4, f.rtcm_msg_size)
    f.rtcm_sat_count match { case Some(n) => row.setInt(5, n); case None => row.setNullAt(5) }
    f.rtcm_obs_epoch_micros match { case Some(t) => row.setLong(6, t); case None => row.setNullAt(6) }
    row.update(7, utf8(f.constellation))
    val n = f.observations.length
    if (obsRows.length < n) {
      val grown = java.util.Arrays.copyOf(obsRows, math.max(n, obsRows.length * 2))
      var i = obsRows.length
      while (i < grown.length) { grown(i) = new SpecificInternalRow(obsType.map(_.dataType)); i += 1 }
      obsRows = grown
    }
    val cells = new Array[Any](n)
    var i = 0
    f.observations.foreach { o =>
      val c = obsRows(i)
      c.setLong(0, o.obs_epoch_micros)
      c.update(1, utf8(o.sat_id))
      c.update(2, utf8(o.sat_signal))
      c.setDouble(3, o.obs_code)
      c.setDouble(4, o.obs_phase)
      c.setDouble(5, o.obs_doppler)
      c.setDouble(6, o.obs_snr)
      c.setInt(7, o.obs_lock_time_indicator)
      cells(i) = c
      i += 1
    }
    row.update(8, new GenericArrayData(cells))
    f.coordinates match {
      case Some(c) =>
        coord.setDouble(0, c.ecef_x)
        coord.setDouble(1, c.ecef_y)
        coord.setDouble(2, c.ecef_z)
        c.antenna_height match { case Some(h) => coord.setDouble(3, h); case None => coord.setNullAt(3) }
        row.update(9, coord)
      case None => row.setNullAt(9)
    }
    f.error match { case Some(e) => row.update(10, UTF8String.fromString(e)); case None => row.setNullAt(10) }
    project(row)
  }
}
