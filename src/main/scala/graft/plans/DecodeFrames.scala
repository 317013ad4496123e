package graft.plans

import graft.etl.{DecodedFrame, RtcmPipeline}
import graft.rtcm.{MsmColumns, MsmExpander, RtcmFraming}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Per-frame RTCM decode as a plan node (custom-operator ladder (c),
  * like [[AsOfMergeLogical]]): each frame of the child's rows goes
  * through `RtcmPipeline.walkFrame` (the frame walk `decodeOne` also
  * runs) into a hand-written row writer, so it lands as one
  * `DecodedFrame`-schema row in Spark's row format with no object, no
  * projection and no generated code in between. A
  * `Dataset.map(decodeOne)` would instead run the generated object
  * serializer over every nested observation of every frame.
  *
  * `mountPoint`, `receiveMicros` and `frame` are the child's columns of
  * those names; `output` is a fresh attribute per field of
  * [[DecodeFrames.Schema]]. Each `frame` value holds whole frames back
  * to back — one for `frameChunks` rows, any number for a streamed
  * chunk, which an `RtcmFraming.Framer` built where its bytes were
  * read — and the exec walks them in place by their length headers
  * (`RtcmFraming.packedFrameEnd`) in the same task: one output row per
  * frame, no shuffle. A value that is not whole frames fails the task
  * with its mountpoint, receive time and byte offset.
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
      val msm = new MsmColumns
      val mounts = new java.util.HashMap[UTF8String, String]()
      rows.flatMap { r =>
        val m = r.getUTF8String(mountOrd)
        val known = mounts.get(m)
        val mount = if (known != null) known else {
          val s = m.toString
          mounts.put(m.clone(), s)
          s
        }
        val micros = r.getLong(microsOrd)
        val bytes = r.getBinary(frameOrd)
        new Iterator[InternalRow] {
          private var pos = 0
          override def hasNext: Boolean = pos < bytes.length
          override def next(): InternalRow = {
            val end = try RtcmFraming.packedFrameEnd(bytes, pos) catch {
              case e: IllegalArgumentException => throw new IllegalArgumentException(
                s"chunk of mountpoint $mount (receiveMicros $micros) is not whole RTCM frames: " +
                  e.getMessage.stripPrefix("requirement failed: "), e)
            }
            val row = RtcmPipeline.walkFrame(mount, micros, bytes, pos, end, msm, writer)
            pos = end
            row
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DecodeFramesExec =
    copy(child = newChild)
}

/** [[RtcmPipeline.walkFrame]]'s row output: writes each frame as a row
  * of [[DecodeFrames.Schema]] with Spark's row writers, with no
  * projection and no staging row. The observation array's elements and
  * the coordinates struct are nested writers over the same buffer, and
  * `MsmExpander.walk` hands it the cells, so a frame allocates nothing
  * per observation. Ordinals follow `DecodedFrame`'s declaration order.
  * Every field of every row is written or set null, since the buffer
  * and its null bits are reused. Strings come from per-task tables:
  * satellite ids and signals by mask position, per constellation. The
  * returned row is overwritten by the next frame. One writer per task:
  * it is not thread-safe. */
private final class DecodedRowWriter extends RtcmPipeline.FrameOut[InternalRow]
    with MsmExpander.CellOut {
  private val row = new UnsafeRowWriter(DecodeFrames.Schema.length, 4096)
  private val cells = new UnsafeArrayWriter(row, 8)
  private val obs = new UnsafeRowWriter(cells, 8)
  private val coord = new UnsafeRowWriter(row, 4)

  private var lastMount: String = _
  private var lastMountUtf8: UTF8String = _
  private val strings = new java.util.HashMap[String, UTF8String]()
  // indexed by MSM constellation (message type / 10 - 107), then mask position
  private val satIds = new Array[Array[UTF8String]](6)
  private val signals = new Array[Array[UTF8String]](6)

  // the MSM frame being written, for `cell`
  private var cellEpoch = 0L
  private var frameSatIds: Array[UTF8String] = _
  private var frameSignals: Array[UTF8String] = _
  private var cellNo = 0

  private def utf8(s: String): UTF8String = {
    var u = strings.get(s)
    if (u == null) { u = UTF8String.fromString(s); strings.put(s, u) }
    u
  }

  private def begin(id: Long, mount: String, micros: Long, msgType: Int, size: Int,
                    constellation: String): Unit = {
    row.reset()
    row.zeroOutNullBytes()
    if (!(mount eq lastMount)) { lastMount = mount; lastMountUtf8 = UTF8String.fromString(mount) }
    row.write(0, id)
    row.write(1, lastMountUtf8)
    row.write(2, micros)
    row.write(3, msgType)
    row.write(4, size)
    row.write(7, utf8(constellation))
  }

  private def noObservations(): Unit = {
    val start = row.cursor()
    cells.initialize(0)
    row.setOffsetAndSizeFromPreviousCursor(8, start)
  }

  def msm(id: Long, mount: String, micros: Long, size: Int, constellation: String,
          epochMicros: Long, m: MsmColumns): InternalRow = {
    val t = m.messageType
    begin(id, mount, micros, t, size, constellation)
    row.write(5, m.satCount)
    row.write(6, epochMicros)
    if (MsmExpander.expands(t)) {
      val c = t / 10 % 1000 - 107
      if (satIds(c) == null) {
        satIds(c) = MsmExpander.satIds(t).map(UTF8String.fromString)
        signals(c) = MsmExpander.signalNames(t).map(UTF8String.fromString).toArray
      }
      cellEpoch = epochMicros
      frameSatIds = satIds(c)
      frameSignals = signals(c)
      cellNo = 0
      val start = row.cursor()
      cells.initialize(m.cellCount)
      MsmExpander.walk(m, this)
      row.setOffsetAndSizeFromPreviousCursor(8, start)
    } else noObservations()
    row.setNullAt(9)
    row.setNullAt(10)
    row.getRow
  }

  def cell(satPos: Int, sigPos: Int, code: Double, phase: Double, doppler: Double,
           snr: Double, lockTime: Int): Unit = {
    val start = cells.cursor()
    obs.resetRowWriter()
    obs.write(0, cellEpoch)
    obs.write(1, frameSatIds(satPos))
    obs.write(2, frameSignals(sigPos))
    obs.write(3, code)
    obs.write(4, phase)
    obs.write(5, doppler)
    obs.write(6, snr)
    obs.write(7, lockTime)
    cells.setOffsetAndSizeFromPreviousCursor(cellNo, start)
    cellNo += 1
  }

  def arp(id: Long, mount: String, micros: Long, msgType: Int, size: Int,
          constellation: String, x: Double, y: Double, z: Double,
          height: Option[Double]): InternalRow = {
    begin(id, mount, micros, msgType, size, constellation)
    row.setNullAt(5)
    row.setNullAt(6)
    noObservations()
    val start = row.cursor()
    coord.resetRowWriter()
    coord.write(0, x)
    coord.write(1, y)
    coord.write(2, z)
    height match { case Some(h) => coord.write(3, h); case None => coord.setNullAt(3) }
    row.setOffsetAndSizeFromPreviousCursor(9, start)
    row.setNullAt(10)
    row.getRow
  }

  def other(id: Long, mount: String, micros: Long, msgType: Int, size: Int,
            constellation: String): InternalRow = {
    begin(id, mount, micros, msgType, size, constellation)
    row.setNullAt(5)
    row.setNullAt(6)
    noObservations()
    row.setNullAt(9)
    row.setNullAt(10)
    row.getRow
  }

  def deadLetter(id: Long, mount: String, micros: Long, size: Int, error: String): InternalRow = {
    begin(id, mount, micros, -1, size, "GNSS")
    row.setNullAt(5)
    row.setNullAt(6)
    noObservations()
    row.setNullAt(9)
    row.write(10, UTF8String.fromString(error))
    row.getRow
  }
}
