package graft.xel

import graft.plans.{KernelArg, UnaryKernelCall}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-level worker for F6 — kept as a static object so generated code can
  * call it directly (one virtual-free static call inside whole-stage
  * codegen, no closure/UDF serialization on the hot path). */
object CallstackOps {
  private val HEX = "0123456789ABCDEF".toCharArray

  /** Reference semantics (`XELoader/EventHolder.cs:341-358`):
    * frames = floor(len / frameLength) — trailing remainder bytes dropped;
    * each frame byte-reversed, uppercase-hex'd, rendered "<cmd> <HEX>;". */
  def format(bytes: Array[Byte], frameLength: Int, cmd: UTF8String): UTF8String = {
    val nFrames = bytes.length / frameLength
    val cmdStr = cmd.toString
    val sb = new java.lang.StringBuilder(nFrames * (cmdStr.length + frameLength * 2 + 2))
    var f = 0
    while (f < nFrames) {
      sb.append(cmdStr).append(' ')
      var i = (f + 1) * frameLength - 1
      while (i >= f * frameLength) {
        val b = bytes(i) & 0xff
        sb.append(HEX(b >>> 4)).append(HEX(b & 0xf))
        i -= 1
      }
      sb.append(';')
      f += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/**
 * Custom Catalyst expression for the callstack → debugger-command transform
 * (SURVEY.md §2.3 F6). A native `Expression` (a [[graft.plans.KernelCall]])
 * rather than a Scala UDF: the call is emitted inline in the generated code,
 * so the surrounding projection stays inside one WholeStageCodegen span (a
 * UDF would force an interpreted boundary and row serialization at 100 TB
 * scale).
 */
case class CallstackDebugCmd(child: Expression, frameLength: Int, cmd: String)
    extends UnaryKernelCall {

  override def dataType: DataType = StringType
  override def prettyName: String = "callstack_debugcmd"
  override def accepts: Seq[DataType] = Seq(BinaryType)
  override def method: String = "graft.xel.CallstackOps.format"

  private lazy val cmdUtf8 = UTF8String.fromString(cmd)

  override def extras: Seq[KernelArg] = Seq(KernelArg.Const(frameLength),
    KernelArg.Ref("cmd", cmdUtf8, classOf[UTF8String].getName))

  override protected def withNewChildInternal(newChild: Expression): CallstackDebugCmd =
    copy(child = newChild)
}

object CallstackDebugCmd {
  import org.apache.spark.sql.graft.bridge

  def toColumn(c: Column, frameLength: Int, cmd: String): Column = {
    require(frameLength > 0, "frameLength must be positive")
    bridge.column(CallstackDebugCmd(bridge.expression(c), frameLength, cmd))
  }
}
