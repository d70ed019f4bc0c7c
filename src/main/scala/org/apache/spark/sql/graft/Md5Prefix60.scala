package org.apache.spark.sql.graft

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 60-bit prefix of the md5 digest of a
  * string's UTF-8 bytes, as a `long` — the integer MinHash ingredient
  * of `Dedup` and the split shard hash of `Vectors`.
  *
  * Bit-identical to the built-in chain
  * `CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 15), 16, 10) AS BIGINT)`
  * (and to DuckDB's `CAST('0x' || SUBSTRING(md5(s), 1, 15) AS BIGINT)`):
  * the first 15 hex digits are the first 7.5 digest bytes. Why native:
  * the chain renders 32 hex characters, slices 15, re-parses them as
  * base-16 into a decimal string and parses that as a long, per hash —
  * 64 hashes per token occurrence in the signature table (a collect of
  * that table at sf0.1 on a 4-core host: 9.4–10.2 s → 1.7–2.4 s). This
  * folds the digest bytes straight into a long, inside codegen, the
  * same packaging as [[SigMatchCount]]. NULL input gives NULL.
  */
case class Md5Prefix60(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"

  override def nullSafeEval(s: Any): Any =
    java.lang.Long.valueOf(Md5Prefix60.prefix60(s.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"${Md5Prefix60.getClass.getName}.MODULE$$.prefix60($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix60 {
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** Digest bytes 0–6 and the high nibble of byte 7, big-endian. */
  def prefix60(s: UTF8String): Long = {
    val d = md5.get().digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) {
      v = (v << 8) | (d(i) & 0xffL)
      i += 1
    }
    (v << 4) | ((d(7) & 0xff) >>> 4)
  }

  /** Column-API form — wraps the expression via the ColumnNode bridge. */
  def md5Prefix60(s: Column): Column =
    ExpressionUtils.column(Md5Prefix60(ExpressionUtils.expression(s)))
}
